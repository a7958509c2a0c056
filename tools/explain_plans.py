"""Physical-plan inspection for the core operator pipelines.

Prints `.explain("formatted")` for representative plans and checks the
scale-critical properties directly from the plan text:

- column pruning reaches the parquet scan (ReadSchema lists only used cols)
- predicate pushdown reaches the scan (PushedFilters non-empty where a
  filter exists)
- the sketch-build plan has NO Exchange before the mapInPandas partials
  (raw rows never shuffle; only sketch blobs do)
- a pre-reduced build, global or grouped, is the same one builder with
  the JVM hash-agg on (group cols, hashes) feeding its MapInPandas
  directly: the hash-agg's Exchange moves distinct hash tuples only
- probe-side plans stay in WholeStageCodegen up to the single Arrow eval
- each sketch-view write fold (materialize, append, compaction) is one
  MapInArrow (``fold_sketch_runs``), and the only MapInPandas left is
  the write's grouped build
- sketch-view writes run no Spark file-write command: the fold's own
  tasks write the segment files, and reads open only the listed files
- a sketch-view append sends each row to the fold task of its bucket,
  computed in the JVM; a compaction, and a query of one bucket or at
  the view's dims, is one MapInArrow over a Range: no file scan, no
  Exchange; a ``where`` is a Filter between two MapInArrows, and a
  coarser query of several buckets has one Exchange
- a checkpoint's build tasks write their own files: one MapInPandas, no
  Exchange, no Spark file-write command; its merge starts no Spark job
- a streaming micro-batch folds its partials and the state once
- a global merge's tree rounds are one Exchange + one MapInArrow each

Usage: PYTHONPATH=/root/repo python tools/explain_plans.py [sf_dir]
"""

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def nodes_of(plan: str) -> list:
    """The plan's operator names in node-number (dataflow) order."""
    return re.findall(r"^\(\d+\) (\w+)", plan, re.M)


def check(name: str, plan: str, want: list, forbid: list) -> bool:
    ok = True
    for w in want:
        if w not in plan:
            print(f"  MISSING: {w!r}")
            ok = False
    for fb in forbid:
        if fb in plan:
            print(f"  FORBIDDEN PRESENT: {fb!r}")
            ok = False
    print(f"{'PASS' if ok else 'FAIL'}  {name}")
    return ok


def main():
    from pyspark.sql import SparkSession, functions as F
    from sparksketch.agg import (BloomSpec, HLLSpec, build_partials,
                                 build_partials_multi, tree_aggregate,
                                 tree_aggregate_multi, with_might_contain)
    from sparksketch.shape import Shape

    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    ok = True

    orders = spark.read.parquet(f"{SF}/orders.parquet")
    customer = spark.read.parquet(f"{SF}/customer.parquet")

    # 1. partial build: projection-only scan, no shuffle before mapInPandas
    p1 = plan_of(build_partials(orders, BloomSpec(Shape.from_np(1000, 1e-6)),
                                ["o_custkey"]))
    print(p1)
    ok &= check("bloom build partials: pruned scan, zero shuffle", p1,
                want=["MapInPandas", "ReadSchema: struct<o_custkey:bigint>"],
                forbid=["Exchange"])

    # 2. filtered build: predicate pushed to the scan
    p2 = plan_of(build_partials(
        orders.filter(F.col("o_orderstatus") == "F"),
        HLLSpec(p=12), ["o_custkey"]))
    print(p2)
    ok &= check("filtered build: pushdown + 2-col scan", p2,
                want=["PushedFilters: [IsNotNull(o_orderstatus), "
                      "EqualTo(o_orderstatus,F)]"],
                forbid=["Exchange"])

    # 3. membership semi-join: map-side filter, no shuffle, ONE UDF eval
    # (keeping the probe column after the filter would make Catalyst
    # evaluate the pandas UDF twice — filter+drop collapses it to one)
    blob = tree_aggregate(build_partials(
        orders, BloomSpec(Shape.from_np(100_000, 1e-6)), ["o_custkey"]))
    semi = (with_might_contain(customer.select("c_custkey"), blob,
                               ["c_custkey"], "_mc")
            .filter(F.col("_mc")).drop("_mc"))
    p3 = plan_of(semi)
    print(p3)
    ok &= check("bloom semi-join: map-side, no shuffle, codegen filter", p3,
                want=["ArrowEvalPython", "* Filter",
                      "ReadSchema: struct<c_custkey:bigint>"],
                forbid=["Exchange"])
    # one eval NODE = header line + its detail section
    assert p3.count("ArrowEvalPython") == 2, "probe UDF must evaluate once"
    print("PASS  bloom semi-join evaluates the probe UDF exactly once")

    # 4. multi-sketch single pass: ONE scan feeds all sketches
    p4 = plan_of(build_partials_multi(orders, {
        "h": (HLLSpec(p=12), ["o_custkey"]),
        "b": (BloomSpec(Shape.from_np(1000, 1e-6)), ["o_custkey", "o_orderstatus"]),
    }))
    print(p4)
    ok &= check("multi-sketch: one scan, one Arrow crossing", p4,
                want=["MapInPandas"], forbid=["Exchange", "Union"])
    # one scan NODE = one "(n) Scan parquet" detail header
    assert p4.count(") Scan parquet") == 1, "multi-sketch must scan ONCE"
    print("PASS  multi-sketch scans parquet exactly once")

    # 4b. pre-reduced builds: the one builder, global (no group columns)
    # and grouped, hash-aggregates (*group_cols, *hashes) in the JVM, and
    # that HashAggregate feeds the MapInPandas directly — perfbench's
    # agg.prereduce.rows_out counts the rows it sends to Python
    from sparksketch.agg import CMSSpec, _grouped_partials
    for name, pre in (
            ("global", build_partials_multi(orders, {
                "h": (HLLSpec(p=12), ["o_custkey"]),
                "c": (CMSSpec(w=1024), ["o_orderstatus"])}, prereduce=True)),
            ("grouped", _grouped_partials(orders, ["o_orderpriority"], {
                "h": (HLLSpec(p=12), ["o_custkey"])}, prereduce=True))):
        nodes = nodes_of(plan_of(pre))
        before = nodes[:nodes.index("MapInPandas")]
        if (nodes.count("MapInPandas") == 1 and before[-1] == "HashAggregate"
                and before.count("Exchange") == 1):
            print(f"PASS  pre-reduced {name} build: HashAggregate -> "
                  "MapInPandas, one Exchange")
        else:
            print(f"FAIL  pre-reduced {name} build: plan nodes {nodes}")
            ok = False

    # 5. grouped build (high-cardinality groups): raw rows never
    # shuffle — the ONLY Exchange in the plan is AFTER the mapInPandas
    # partial build, i.e. it moves KB-scale sketch rows, not data rows,
    # to the mapInArrow fold
    from sparksketch.agg import BottomKSpec, grouped_sketch
    p5 = plan_of(grouped_sketch(
        orders, ["o_custkey"], BottomKSpec(k=64), ["o_orderkey"]))
    print(p5)
    ok &= check("grouped build: single sketch-row exchange", p5,
                want=["MapInPandas"], forbid=["FlatMapGroupsInPandas"])
    # the tree prints top-down, so compare plan NODE NUMBERS (dataflow
    # order: (1) scan ... (n) sink): stage 1 is a MapInPandas, stage 2 a
    # MapInArrow, and the single Exchange sits BETWEEN them — it moves
    # sketch rows only
    stage = r"\bMapIn(?:Pandas|Arrow) \((\d+)\)"
    ex_ids = [int(m) for m in re.findall(r"\bExchange \((\d+)\)", p5)]
    map_ids = sorted(int(m) for m in re.findall(stage, p5))
    assert len(ex_ids) == 1, f"expected exactly one Exchange, got {ex_ids}"
    assert len(map_ids) == 2 and map_ids[0] < ex_ids[0] < map_ids[1], \
        "raw rows must not shuffle before the grouped partial build"
    print("PASS  grouped build shuffles only sketch rows")

    # 6. layered `find` probe: the probe UDF runs map-side over the
    # broadcast blob — the only Exchanges in the plan are the inherent
    # ones (distinct build of the probe set, final tiny groupBy of
    # (layer, count) rows), never a shuffle of probe rows to reach the
    # sketch
    from sparksketch.agg import LayeredBloomSpec, with_layer_find
    ev = orders.withColumn("day", (F.col("o_orderkey") % 7).cast("long"))
    lblob = tree_aggregate(build_partials(
        ev, LayeredBloomSpec(Shape.from_np(10_000, 1e-9), layer_col="day"),
        ["o_custkey"]))
    probe_plan = plan_of(
        with_layer_find(orders.select("o_custkey").distinct(), lblob,
                        ["o_custkey"], out_col="days")
        .select(F.explode("days").alias("day"))
        .groupBy("day").agg(F.count("*").alias("c")))
    print(probe_plan)
    ok &= check("layered find probe: map-side eval, inherent shuffles only",
                probe_plan, want=["ArrowEvalPython"], forbid=[])
    n_probe_ex = len(re.findall(r"\bExchange \((\d+)\)", probe_plan))
    assert n_probe_ex <= 2, \
        f"probe plan must only shuffle for distinct + final agg, got {n_probe_ex}"
    print("PASS  layered find probe adds no probe-side shuffle")

    # 7. grouped fixed-k KLL (per-conv latency p95, the billions-of-groups
    # plan): raw rows shuffle exactly ONCE, for the inherent lag-window
    # (delta computation) — between the grouped build's two Python
    # stages only KB-scale sketch rows cross an Exchange; anything after
    # stage 2 moves (conv_id, p95) result rows
    import __spark_entry__ as se
    p7 = plan_of(se.q_kll_grouped_fixedk_latency(spark, SF))
    print(p7)
    ex7 = sorted(int(m) for m in re.findall(r"\bExchange \((\d+)\)", p7))
    map7 = sorted(int(m) for m in re.findall(stage, p7))
    win7 = sorted(int(m) for m in re.findall(r"\bWindow \((\d+)\)", p7))
    assert len(map7) == 2, f"expected 2 grouped-build stages, got {map7}"
    # every pre-build Exchange must feed a Window (the transcript
    # turn-ordering + lag derivation); the build itself adds NO raw-row
    # shuffle: nothing between the last Window and stage 1
    assert win7 and not [e for e in ex7 if win7[-1] < e < map7[0]], \
        "the partial build must not shuffle raw rows beyond the windows"
    assert len([e for e in ex7 if map7[0] < e < map7[1]]) == 1, \
        "exactly one sketch-row Exchange between the grouped-build stages"
    print("PASS  grouped fixed-k KLL shuffles raw rows only for the "
          "lag window; sketch rows otherwise")

    # 8. one-scan CUBE: every coarser grouping set derives by MERGING the
    # persisted finest sketch rows — the 2^d grouping sets cost ONE
    # parquet scan, not 2^d (grouped_sketch_cube's core claim)
    from sparksketch.agg import grouped_sketch_cube
    p8 = plan_of(grouped_sketch_cube(
        orders, ["o_orderstatus", "o_orderpriority"], BottomKSpec(k=64),
        ["o_custkey"]))
    n_scans = p8.count(") Scan parquet")
    assert n_scans == 1, f"CUBE must scan parquet once, saw {n_scans}"
    print("PASS  one-scan CUBE: 2^d grouping sets from a single scan")

    # 9. materialized IVF index: probing n_probe cells is storage-level
    # PARTITION PRUNING (the scan's PartitionFilters carry the cell IN
    # predicate), not a post-scan filter — at 100 TB the other cells'
    # files are never opened
    import shutil
    import tempfile
    import numpy as np
    from sparksketch.similarity import ivf_query_index, ivf_write_index
    emb = spark.read.parquet(f"{SF}/embeddings.parquet") \
        .select("vec_id", "embedding")
    qv = np.array(emb.first()["embedding"], dtype=np.float64)
    idx_dir = tempfile.mkdtemp(prefix="ivf_plan_")
    try:
        ivf_write_index(emb, idx_dir, n_centroids=8)
        p9 = plan_of(ivf_query_index(spark, idx_dir, qv, k=5, n_probe=2))
        print(p9)
        pf = [ln for ln in p9.splitlines() if "PartitionFilters" in ln]
        assert pf and "cell" in pf[0] and "IN" in pf[0], \
            f"cell probe must reach PartitionFilters, got {pf}"
        print("PASS  IVF index probe prunes cell partitions at the scan")
    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)

    # 10. hash-threshold / mixture sampling: pure map-side — zero
    # Exchange, zero Python eval; the md5-threshold compare runs inside
    # WholeStageCodegen directly above the pruned scan
    from sparksketch.sampling import weighted_mixture_sample
    p10 = plan_of(weighted_mixture_sample(
        orders.select("o_orderkey", "o_orderstatus"), "o_orderstatus",
        {"F": 0.25, "O": 0.5}, ["o_orderkey"], salt="s"))
    print(p10)
    ok &= check("mixture sample: map-side only, codegen filter", p10,
                want=["* Filter"],
                forbid=["Exchange", "ArrowEvalPython", "MapInPandas",
                        "BatchEvalPython"])

    # 11. per-group reservoir: exactly ONE raw-row Exchange (the group
    # window), no Python eval, and Spark's WindowGroupLimit kicks in —
    # the rank<=k filter becomes a map-side partial top-k BEFORE the
    # shuffle, so shuffle volume is O(k per group per partition), not
    # the full table
    from sparksketch.sampling import per_group_sample
    p11 = plan_of(per_group_sample(
        orders.select("o_custkey", "o_orderkey"), ["o_custkey"],
        ["o_orderkey"], k=2, salt="s"))
    print(p11)
    ok &= check("per-group reservoir: one shuffle, WindowGroupLimit", p11,
                want=["WindowGroupLimit"],
                forbid=["ArrowEvalPython", "MapInPandas"])
    ex11 = re.findall(r"\bExchange \((\d+)\)", p11)
    assert len(ex11) == 1, f"reservoir must shuffle exactly once, got {ex11}"
    limits11 = re.findall(r"WindowGroupLimit \((\d+)\)",  p11)
    assert len(limits11) == 2, \
        "expected Partial+Final WindowGroupLimit pair (map-side top-k)"
    print("PASS  per-group reservoir does map-side partial top-k")

    # 12. bloom anti-join: the certain-'no' branch is a map-side codegen
    # filter over ONE Arrow eval; the residual exact cleanup is a
    # left_anti join of only the 'maybe' rows
    from sparksketch.agg import bloom_anti_join
    p12 = plan_of(bloom_anti_join(
        customer.select("c_custkey"), ["c_custkey"],
        orders.filter(F.col("o_orderstatus") == "F").select("o_custkey"),
        ["o_custkey"], expected_n=10_000))
    print(p12)
    ok &= check("bloom anti-join: map-side reduction + exact cleanup", p12,
                want=["LeftAnti", "ArrowEvalPython"], forbid=[])
    # the probe UDF evaluates once per branch (definite-out + maybe) over
    # the probe table — two scans that shuffle only the 'maybe' rows beats
    # one scan that shuffles everything.  Catalyst's constraint propagation
    # additionally infers the probe predicate onto the small build side
    # (harmless: every build key passes its own filter), so the plan holds
    # at most 3 eval nodes x (header + detail) = 6 mentions.
    assert p12.count("ArrowEvalPython") <= 6, \
        "anti-join must not re-evaluate the probe UDF per downstream use"
    print("PASS  bloom anti-join keeps one probe eval per branch")

    # -- materialized sketch view: reads open only the manifest's files
    # of the requested segments, the fold's own tasks write segment files
    # (no Spark write command), appends shuffle by bucket and compaction
    # folds bucket by bucket without a shuffle ----------------------------
    from pyspark.errors import PythonException
    from pyspark.sql.classic.dataframe import DataFrame
    from sparksketch.view import (_read_manifest, view_append, view_compact,
                                  view_materialize, view_query)
    events = spark.read.parquet(f"{SF}/events.parquet")
    vdir = tempfile.mkdtemp(prefix="sparksketch_planview_")
    py_op = re.compile(r"^\(\d+\) (\w*(?:Python|Pandas|InArrow)\w*)", re.M)
    try:
        half = F.xxhash64(F.col("event_id").cast("string")) % 2 == 0
        spec = BottomKSpec(k=4096)
        # the plans the view's writes collect: captured at collect()
        collected, collect = [], DataFrame.collect

        def capture(df):
            collected.append(plan_of(df))
            return collect(df)
        DataFrame.collect = capture
        try:
            view_materialize(events.filter(half), ["event_type"], spec,
                             ["user_id"], vdir)
            view_append(events.filter(~half), spec, ["user_id"], vdir)
            view_compact(spark, vdir)
        finally:
            DataFrame.collect = collect
        names = ("view_materialize", "view_append", "view_compact")
        for name, wplan in zip(names, collected):
            print(wplan)
            ok &= check(f"{name}: no Spark file-write command", wplan,
                        ["MapInArrow"],
                        ["InsertIntoHadoopFsRelationCommand", "WriteFiles"])
            ops = py_op.findall(wplan)
            # the one MapInArrow is the fold, emitting (file, rows,
            # bucket); before it only the grouped build's MapInPandas
            fold = wplan[wplan.rfind("MapInArrow ("):]
            want_ops = (["MapInArrow"] if name == "view_compact"
                        else ["MapInPandas", "MapInArrow"])
            if ops != want_ops or not re.search(
                    r"\[file#\d+, rows#\d+L, bucket#\d+\]", fold):
                print(f"FAIL  {name}: Python operators {ops}, want "
                      f"{want_ops} ending in the writing fold")
                ok = False
            else:
                print(f"PASS  {name}: Python operators {ops}, the fold "
                      "one MapInArrow")
        if len(collected) != 3:
            print(f"FAIL  view writes collected {len(collected)} plans")
            ok = False
        else:
            # a write fold's one Exchange sends each row to the task of
            # its bucket, computed in the JVM (repartitionById):
            # materialize folds in P buckets, an append in the view's B
            # (one bucket, a SinglePartition Exchange, on this small view)
            p = spark.sparkContext.defaultParallelism
            by_id = (r"shufflepartitionidpassthrough\(direct_shuffle_"
                     r"partition_id\(cast\(pmod\(xxhash64\(event_type#\d+"
                     r", 42\), {0}\) as int\)\), {0}\), REPARTITION_BY_NUM")
            single = r"SinglePartition, REPARTITION_BY_NUM"
            want_b = _read_manifest(vdir).nbuckets
            for name, wplan, nb in (("view_materialize", collected[0], p),
                                    ("view_append", collected[1], want_b)):
                ex = re.findall(
                    r"^\(\d+\) Exchange\n(?:.*\n)*?Arguments: (.*)",
                    wplan, re.M)
                want = by_id.format(nb) if nb > 1 else single
                if len(ex) == 1 and re.match(want, ex[0]):
                    print(f"PASS  {name}: the fold's Exchange sends bucket "
                          f"b of {nb} to task b")
                else:
                    print(f"FAIL  {name}: Exchange arguments {ex}")
                    ok = False
            cplan = collected[2]
            # compaction: one MapInArrow over a Range, nothing else
            nodes = nodes_of(cplan)
            if (nodes.count("MapInArrow") == 1 and "Range" in nodes
                    and nodes.index("Range") < nodes.index("MapInArrow")
                    and "Exchange" not in nodes and "Scan" not in nodes):
                print("PASS  view_compact: one MapInArrow over a Range, "
                      "no Exchange, no file scan")
            else:
                print(f"FAIL  view_compact plan nodes {nodes}")
                ok = False
        # reads are Range -> MapInArrow jobs, one task per bucket: with
        # B = 1 and no ``where`` the one MapInArrow reads, folds and
        # estimates; a ``where`` is a JVM Filter between the bucket read
        # and the fold; a coarser query of B > 1 buckets merges its
        # groups across buckets with one Exchange
        qplan = plan_of(view_query(spark, vdir, ["event_type"]))
        print(qplan)
        nodes = nodes_of(qplan)
        if (nodes.count("MapInArrow") == 1 and "Range" in nodes
                and nodes.index("Range") < nodes.index("MapInArrow")
                and not {"Exchange", "Scan", "ArrowEvalPython",
                         "MapInPandas"} & set(nodes)):
            print("PASS  sketch view query: one MapInArrow over a Range, "
                  "no Exchange, no file scan, no estimate UDF")
        else:
            print(f"FAIL  sketch view query plan nodes {nodes}")
            ok = False
        fplan = plan_of(view_query(spark, vdir, ["event_type"],
                                   where=F.col("event_type") != "click"))
        print(fplan)
        nodes = nodes_of(fplan)
        if ([n for n in nodes if n in ("Range", "MapInArrow", "Filter")]
                == ["Range", "MapInArrow", "Filter", "MapInArrow"]
                and not {"Exchange", "Scan"} & set(nodes)):
            print("PASS  filtered sketch view query: MapInArrow -> Filter "
                  "-> MapInArrow, no Exchange, no file scan")
        else:
            print(f"FAIL  filtered sketch view query plan nodes {nodes}")
            ok = False
        from sparksketch import view
        per_bucket, view._GROUPS_PER_BUCKET = view._GROUPS_PER_BUCKET, 1
        bdir = f"{vdir}/wide"
        try:
            view_materialize(events.withColumn("k", F.col("event_id") % 8),
                             ["event_type", "k"], spec, ["user_id"], bdir)
        finally:
            view._GROUPS_PER_BUCKET = per_bucket
        nb = _read_manifest(bdir).nbuckets
        bplan = plan_of(view_query(spark, bdir, ["event_type"]))
        print(bplan)
        nodes = nodes_of(bplan)
        if nb > 1 and nodes.count("Exchange") == 1 and "Scan" not in nodes:
            print(f"PASS  coarser query of {nb} buckets: one Exchange, "
                  "no file scan")
        else:
            print(f"FAIL  coarser query of {nb} buckets: plan nodes {nodes}")
            ok = False
        # a segment-0 read opens only segment 0's files: with every
        # other listed file overwritten by garbage it answers as before,
        # and a read of every segment fails
        m = _read_manifest(vdir)
        exact = events.filter(half).select("user_id").distinct().count()
        for r in m.rows[1:]:
            for f in r.files:
                with open(f"{vdir}/segments/{f}", "wb") as out:
                    out.write(b"not a parquet file")
        got = view_query(spark, vdir, [], segments=[0]).collect()
        try:
            view_query(spark, vdir, []).collect()
            whole = "answered"
        except PythonException as e:  # the garbage fails its parquet read
            whole = "raised" if "Parquet magic bytes" in str(e) else str(e)
        if ([r["estimate"] for r in got] == [exact] and m.rows[0].files
                and whole == "raised"):
            print("PASS  sketch view: a segment-0 read opens only segment "
                  "0's files")
        else:
            print(f"FAIL  sketch view: segment-0 estimates {got} (want "
                  f"{exact}); the read of every segment {whole}")
            ok = False
    finally:
        shutil.rmtree(vdir, ignore_errors=True)

    # -- checkpoint: each build task writes its own partial file (one
    # MapInPandas, no Exchange, no Spark file-write command), and the
    # merge opens the manifest's files on the driver: no Spark job -------
    from sparksketch.checkpoint import checkpoint_partials, merged_sketch_bytes
    cdir = tempfile.mkdtemp(prefix="sparksketch_planckpt_")
    sc = spark.sparkContext
    try:
        collected = []
        DataFrame.collect = capture
        try:
            checkpoint_partials(orders, HLLSpec(p=12), ["o_custkey"], cdir,
                                "plan")
        finally:
            DataFrame.collect = collect
        wplan = collected[0] if len(collected) == 1 else ""
        print(wplan)
        ok &= check("checkpoint build + write: no Exchange, no Spark "
                    "file-write command", wplan, ["MapInPandas"],
                    ["Exchange", "InsertIntoHadoopFsRelationCommand",
                     "WriteFiles"])
        ops = py_op.findall(wplan)
        if len(collected) == 1 and ops == ["MapInPandas"]:
            print("PASS  checkpoint: one collected plan, one MapInPandas")
        else:
            print(f"FAIL  checkpoint: {len(collected)} collected plans, "
                  f"Python operators {ops}")
            ok = False
        sc.setJobGroup("plan-checkpoint-merge", "merged_sketch_bytes")
        try:
            merged_sketch_bytes(spark, cdir, "plan")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(
            "plan-checkpoint-merge"))
        print(f"{'PASS' if n_jobs == 0 else 'FAIL'}  merged_sketch_bytes "
              f"starts {n_jobs} Spark jobs (want 0)")
        ok &= n_jobs == 0
    finally:
        shutil.rmtree(cdir, ignore_errors=True)

    # -- windowed streaming state: each micro-batch's partials and the
    # stored state fold in ONE pass (the build's MapInPandas, 1 Exchange,
    # the fold's MapInArrow) ----------------------------------------------
    import datetime
    from sparksketch.agg import HLLSpec
    from sparksketch.streaming import WindowedSketchState
    sdir = tempfile.mkdtemp(prefix="sparksketch_planstream_")
    try:
        batch = events.select(
            "user_id", "event_type",
            F.lit(datetime.datetime(2026, 1, 1)).alias("ts"))
        wss = WindowedSketchState(HLLSpec(p=10), ["user_id"], sdir,
                                  window="1 day", group_cols=["event_type"])
        wss.process_batch(batch, 0)
        splan = plan_of(wss._merged(batch))
        print(splan)
        n_map = len(re.findall(r"\bMapInPandas \((\d+)\)", splan))
        n_arrow = len(re.findall(r"\bMapInArrow \((\d+)\)", splan))
        n_ex = len(re.findall(r"\bExchange \((\d+)\)", splan))
        if (n_map, n_arrow, n_ex) == (1, 1, 1):
            print("PASS  streaming micro-batch folds once: 1 MapInPandas, "
                  "1 MapInArrow, 1 Exchange")
        else:
            print(f"FAIL  streaming micro-batch: {n_map} MapInPandas, "
                  f"{n_arrow} MapInArrow, {n_ex} Exchange (want 1, 1, 1)")
            ok = False
    finally:
        shutil.rmtree(sdir, ignore_errors=True)

    # -- a global merge forced through tree rounds (16 -> 8 -> 4 rows), as
    # the driver collects it: each round one Exchange, then one MapInArrow
    tplans, to_arrow = [], DataFrame.toArrow
    DataFrame.toArrow = lambda df: tplans.append(plan_of(df)) or to_arrow(df)
    try:
        tree_aggregate_multi(build_partials_multi(orders.repartition(16), {
            "h": (HLLSpec(p=12), ["o_custkey"])}), ["h"], 4, 2, est_parts=16)
    finally:
        DataFrame.toArrow = to_arrow
    print(*tplans)
    stages = [n for n in nodes_of("".join(tplans))
              if "Map" in n or n == "Exchange"]
    want = ["Exchange", "MapInPandas"] + ["Exchange", "MapInArrow"] * 2
    ok &= check("tree rounds: one Exchange then one MapInArrow per round",
                repr((len(tplans), stages)), [repr((1, want))], [])

    # -- range_bucket stays inside whole-stage codegen (no Python eval
    # in the bucket-assignment hot path; round 5) ------------------------
    from sparksketch.partitioning import range_bucket
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    bplan = plan_of(li.select(
        range_bucket("l_extendedprice", [901.0, 2201.5, 4401.25])
        .alias("b")))
    ok &= check("range_bucket: JVM-only bucket assignment, pruned scan",
                bplan,
                ["size(filter(", "ReadSchema: struct<l_extendedprice"],
                ["BatchEvalPython", "ArrowEvalPython", "mapInPandas"])

    spark.stop()
    print("\nALL PLAN CHECKS PASSED" if ok else "\nPLAN CHECKS FAILED")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
