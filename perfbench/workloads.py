"""The benchmark's workloads.  Each is a closed loop: one driver-side
client calls the public ``sparksketch`` API, waits for the answer, checks
it, and only then makes the next call.

- ``build_hot``: the one-pass build of four sketches over transcripts whose
  keys repeat (about 50 turns per conversation, Zipf-hot conversations,
  13 tool values).  The JVM pre-reduce removes most rows before the Arrow
  crossing; sketch state stays cache-sized.
- ``views_rw``: a materialized HLL view on (role, conversation bucket):
  each cycle appends one day of facts, queries at a coarser grouping and
  with a dim filter, reads one role through the ``sketchview`` data
  source, and compacts.  Days are generated as the loop needs them, so
  ``--seconds`` alone bounds the loop.  Each run also checkpoints half the
  partitions of a build and resumes it.
"""

from __future__ import annotations

import hashlib
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import functions as F

from sparksketch.agg import (CMSSpec, HLLSpec, KLLSpec, MixKeyBloomSpec,
                             build_partials_multi, grouped_sketch,
                             sketch_dataframe, sketch_dataframe_multi,
                             tree_aggregate_multi, with_sketch_estimate)
from sparksketch.checkpoint import (checkpoint_partials, merged_sketch_bytes,
                                    missing_pids, resume)
from sparksketch.datasource import SketchViewDataSource
from sparksketch.hashing import combine_hashes
from sparksketch.shape import Shape
from sparksketch.sketches import sketch_from_bytes
from sparksketch.view import view_append, view_compact, view_materialize, \
    view_query

from perfbench import inputs, micro

SETUP_REPS = 3
CAPTURE_ROWS = 100_000  # rows per captured micro-timer batch


@dataclass
class Op:
    """One client operation: its kind, wall time, the fact rows it
    consumed and whether its output checked correct."""
    kind: str
    seconds: float
    rows: int = 0
    ok: bool = True


class Ctx:
    def __init__(self, spark, seed: int, tracer, work_dir: str,
                 log) -> None:
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.work_dir = work_dir
        self.log = log
        self.arrow_batch = int(spark.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch"))

    def call(self, name: str, module: str):
        return self.tracer.span(name, module, call=True)


def _cache(df):
    df = df.persist(StorageLevel.MEMORY_ONLY)
    df.count()
    return df


def _digest(blobs: dict[str, bytes]) -> str:
    h = hashlib.sha256()
    for name in sorted(blobs):
        h.update(name.encode() + len(blobs[name]).to_bytes(8, "little"))
        h.update(blobs[name])
    return h.hexdigest()


# --------------------------------------------------------------------------
# build_hot
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class BuildConfig:
    rows: int
    convs: int
    partitions: int

    @staticmethod
    def specs() -> dict:
        """The four sketches of the one-pass build; about 1.5 MB of state,
        so each worker's sketches stay in cache."""
        return {
            "hll": (HLLSpec(p=14), ["conv_id"]),
            "bloom": (MixKeyBloomSpec(Shape.from_np(1 << 18, 1e-6)),
                      ["conv_id", "tool"]),
            "cms": (CMSSpec(w=1 << 14, d=4), ["tool"]),
            "kll": (KLLSpec(k=400, col="turns"), ["conv_id"]),
        }


HOT = BuildConfig(rows=4_000_000, convs=80_000, partitions=16)


def conv_lengths(turns):
    """Turns per conversation, in a run-to-run deterministic order (the
    KLL bytes depend on the order values arrive in)."""
    return (turns.groupBy("conv_id").agg(F.count(F.lit(1)).alias("turns"))
            .sortWithinPartitions(F.xxhash64("conv_id")))


class BuildWorkload:
    main_kinds = ("build",)  # operations whose rows and time make rows_per_s
    op_kinds = ("build",)    # operations whose latencies make op_p50_ms
    root_span = "build"      # the span one traced step opens

    def __init__(self, ctx: Ctx, cfg: BuildConfig) -> None:
        self.ctx, self.cfg = ctx, cfg
        self.turns = None
        self.reference: str | None = None
        self.finals: dict[str, bytes] = {}

    def setup(self, rep: int) -> None:
        """Generate the input, projected to the columns the sketches read,
        and cache it."""
        cfg = self.cfg
        if self.turns is not None:
            self.turns.unpersist()
        self.turns = _cache(inputs.transcripts(
            self.ctx.spark, cfg.rows, cfg.convs, self.ctx.seed,
            cfg.partitions).select("conv_id", "tool"))

    def prepare(self) -> None:
        self.specs = self.cfg.specs()
        self.trio = {n: self.specs[n] for n in ("hll", "bloom", "cms")}
        self.kll_input = conv_lengths(self.turns)

    def warm(self) -> list[Op]:
        """Three builds: the Python workers, code generation and the JIT.
        Builds speed up steeply until about the fourth, then slowly."""
        return self.step() + self.step() + self.step()

    def _check(self, blobs: dict[str, bytes]) -> bool:
        """Every build must produce the first build's bytes; ``finish``
        checks those against exact answers."""
        digest = _digest(blobs)
        if self.reference is None:
            self.reference, self.finals = digest, blobs
        elif digest != self.reference:
            self.ctx.log("sketch bytes differ from the first operation")
            return False
        return True

    def finish(self) -> list[Op]:
        """Check the builds' sketches against exact answers: HLL within 3
        sigma of the distinct count, no Bloom false negative on a probe
        sample, no CMS count below the exact count."""
        turns, blobs = self.turns, self.finals
        exact_convs = turns.select(F.countDistinct("conv_id")).first()[0]
        tool_counts = (turns.groupBy("tool")
                       .agg(F.count(F.lit(1)).alias("n"),
                            F.first(F.xxhash64("tool")).alias("h"))
                       .toPandas())
        every = max(self.cfg.rows // 2000, 1)
        probe = (inputs.probe_sample(turns, self.ctx.seed, every)
                 .select(F.xxhash64("conv_id").alias("a"),
                         F.xxhash64("tool").alias("b")).toPandas())
        hll, bloom, cms = (sketch_from_bytes(blobs[n])
                           for n in ("hll", "bloom", "cms"))
        ok = True
        if (abs(hll.estimate() - exact_convs)
                > 3 * hll.rel_std_error() * exact_convs):
            self.ctx.log(f"HLL {hll.estimate():.0f} vs exact "
                         f"{exact_convs}: outside 3 sigma")
            ok = False
        if not bloom.contains_hashes(combine_hashes(
                probe["a"].to_numpy(), probe["b"].to_numpy())).all():
            self.ctx.log("Bloom false negative on the probe sample")
            ok = False
        got = cms.query_hashes(tool_counts["h"].to_numpy())
        if (got < tool_counts["n"].to_numpy()).any():
            self.ctx.log("CMS count below the exact count")
            ok = False
        return [Op("verify", 0.0, 0, ok)]

    def step(self) -> list[Op]:
        ctx = self.ctx
        with ctx.tracer.span("build"):
            t0 = time.perf_counter()
            with ctx.call("agg.sketch_dataframe_multi[prereduce]", "agg"):
                out = sketch_dataframe_multi(self.turns, self.trio,
                                             prereduce=True)
            # conversation length is itself an aggregate: its KLL is a
            # second call, over groupBy(conv_id).count()
            with ctx.call("agg.sketch_dataframe_multi[raw]", "agg"):
                out.update(sketch_dataframe_multi(
                    self.kll_input, {"kll": self.specs["kll"]}))
            seconds = time.perf_counter() - t0
        blobs = {n: sk.to_bytes() for n, sk in out.items()}
        return [Op("build", seconds, self.cfg.rows, self._check(blobs))]

    def digest(self) -> tuple[str, str] | None:
        """(input configuration, digest of the sketch bytes)."""
        return repr(self.cfg), self.reference

    def layer_metrics(self) -> dict[str, float]:
        """The agg and spark layers from Spark's metrics of the traced
        builds; the sketches, hashing and agg.merge layers timed in-process
        on batches and partials captured from this run's input."""
        out = _agg_layer_metrics(self.ctx.tracer, self.root_span,
                                 self.cfg.rows)
        hashes = self.turns.select(F.xxhash64("conv_id").alias("h_conv"),
                                   F.xxhash64("tool").alias("h_tool"))
        raw = hashes.limit(CAPTURE_ROWS).toPandas()
        reduced = (hashes.groupBy("h_conv", "h_tool")
                   .agg(F.count(F.lit(1)).alias("_cnt"))
                   .limit(CAPTURE_ROWS).toPandas())
        col = self.specs["kll"][0].col
        kll_values = (self.kll_input.select(col).limit(CAPTURE_ROWS)
                      .toPandas()[col].to_numpy())
        out.update(micro.kernel_metrics(
            {n: s for n, (s, _) in self.specs.items()}, raw, reduced,
            kll_values, self.ctx.arrow_batch))
        out.update(micro.codec_metrics(self.finals))
        collect_s, partials = 0.0, {}
        for df, specs, prereduce in ((self.turns, self.trio, True),
                                     (self.kll_input,
                                      {"kll": self.specs["kll"]}, False)):
            built = build_partials_multi(df, specs, prereduce=prereduce) \
                .persist(StorageLevel.MEMORY_ONLY)
            pdf = built.toPandas()
            for n in specs:
                partials[n] = [bytes(b) for b in pdf[n] if b is not None]
            n_parts = built.rdd.getNumPartitions()
            times = []
            for _ in range(3):
                t0 = time.perf_counter()
                tree_aggregate_multi(built, list(specs), est_parts=n_parts)
                times.append(time.perf_counter() - t0)
            collect_s += statistics.median(times)
            built.unpersist()
        out["agg.merge.collect_s"] = collect_s
        out["agg.merge.fold_s"] = micro.fold_seconds(partials)
        return out


def _call_stats(tracer, root, exclude_module: str | None = None):
    from perfbench.sparkstats import GroupStats
    total = GroupStats()
    for c in tracer.children(root):
        if c.module != exclude_module:
            total.add(c.stats)
    return total


def _med(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _agg_layer_metrics(tracer, root_span: str, input_rows: int,
                       exclude_module: str | None = None) -> dict:
    """Per-step medians of the agg and spark layers' Spark metrics, over
    the traced steps (root spans named ``root_span``)."""
    roots = tracer.roots(root_span)
    per_op = [_call_stats(tracer, r, exclude_module) for r in roots]
    pre = [sum((c.stats["prereduced_rows_out"] for c in tracer.children(r)
                if "prereduce" in c.name), 0.0) for r in roots]
    shuffle = [sum((c.stats["shuffle_write_bytes"]
                    for c in tracer.children(r)
                    if "prereduce" in c.name), 0.0) for r in roots]
    rows_in = [float(input_rows) if p else 0.0 for p in pre]
    return {
        "agg.project.cpu_s": _med(s["map_stage_cpu_s"] for s in per_op),
        "agg.prereduce.rows_in": _med(rows_in),
        "agg.prereduce.rows_out": _med(pre),
        "agg.prereduce.keep_ratio": _med(
            p / r if r else 0.0 for p, r in zip(pre, rows_in)),
        "agg.prereduce.shuffle_bytes": _med(shuffle),
        "agg.crossing.rows": _med(s["py_rows_in"] for s in per_op),
        "agg.crossing.bytes": _med(s["py_bytes_in"] for s in per_op),
        "agg.crossing.python_s": _med(s["py_run_s"] for s in per_op),
        "agg.crossing.worker_start_s": _med(s["py_start_s"] for s in per_op),
        "agg.merge.result_bytes": _med(s["result_bytes"] for s in per_op),
        "spark.gc_s": _med(s["gc_s"] for s in per_op),
        "spark.tasks": _med(s["tasks"] for s in per_op),
        "spark.executor_run_s": _med(s["run_s"] for s in per_op),
    }


# --------------------------------------------------------------------------
# views_rw
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class ViewConfig:
    day_rows: int = 50_000
    convs: int = 20_000
    partitions: int = 4
    buckets: int = 512
    filter_below: int = 64  # the filtered query keeps bucket < this
    read_role: str = "user"


VIEWS = ViewConfig()
VIEW_SPEC = HLLSpec(p=10)
VIEW_DIMS = ["role", "bucket"]
CKPT_SPEC = HLLSpec(p=14)


def _answer(pdf: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    pdf = pdf[[*keys, "estimate", "rows"]].astype(
        {"estimate": "float64", "rows": "int64"})
    return pdf.sort_values(keys).reset_index(drop=True)


class ViewsWorkload:
    main_kinds = ("append", "compact")  # ingest: rows_per_s
    op_kinds = ("query", "read")        # answers: op_p50_ms
    root_span = "cycle"

    def __init__(self, ctx: Ctx) -> None:
        self.ctx, self.cfg = ctx, VIEWS
        ctx.spark.dataSource.register(SketchViewDataSource)
        self.day = 0               # last day appended to the view
        self.totals = np.zeros(3, dtype=np.int64)
        self.path = None
        self.last = None
        self.manifest_samples: list[dict] = []  # traced cycles only

    def _facts(self, first_day: int, days: int = 1):
        """Facts of days ``first_day .. first_day+days-1``: day ``d`` is
        turns ``d*day_rows .. (d+1)*day_rows`` of one seeded table."""
        cfg, seed = self.cfg, self.ctx.seed
        t = inputs.transcripts(self.ctx.spark, cfg.day_rows * days,
                               cfg.convs, seed, cfg.partitions,
                               start=first_day * cfg.day_rows)
        return t.select(
            "conv_id", "role",
            F.pmod(F.xxhash64("conv_id"), F.lit(cfg.buckets)).cast("int")
            .alias("bucket"))

    def _counts(self, facts) -> np.ndarray:
        """All, filtered and read-role fact rows: what the three answers'
        ``rows`` must add up to."""
        cfg = self.cfg
        row = facts.agg(
            F.count(F.lit(1)),
            F.sum((F.col("bucket") < cfg.filter_below).cast("long")),
            F.sum((F.col("role") == cfg.read_role).cast("long"))).first()
        return np.array(list(row), dtype=np.int64)

    def setup(self, rep: int) -> None:
        """Materialize day 0 as the view the cycles append to."""
        self.path = f"{self.ctx.work_dir}/view{rep}"
        view_materialize(self._facts(0), VIEW_DIMS, VIEW_SPEC, ["conv_id"],
                         self.path)

    def prepare(self) -> None:
        self.day, self.totals = 0, self._counts(self._facts(0))

    def warm(self) -> list[Op]:
        """One cycle: the query path, the sketchview reader's Python workers
        and the first compaction (set-up's materializations leave the next
        append slow too)."""
        return self.step()

    def _timed(self, kind: str, name: str, module: str, fn, rows: int = 0):
        """(Op, result) of one library call, traced as its own span."""
        with self.ctx.call(name, module):
            t0 = time.perf_counter()
            out = fn()
            seconds = time.perf_counter() - t0
        return Op(kind, seconds, rows), out

    def _ask(self) -> tuple[list[Op], tuple]:
        """The coarse query, the filtered query and the sketchview read,
        with rows behind every answer checked against the facts so far."""
        ctx, cfg = self.ctx, self.cfg
        calls = (
            ("query", "view.view_query", "view",
             lambda: view_query(ctx.spark, self.path, ["role"]).toPandas()),
            ("query", "view.view_query[filtered]", "view",
             lambda: view_query(
                 ctx.spark, self.path, ["role"],
                 where=F.col("bucket") < cfg.filter_below).toPandas()),
            ("read", "datasource.read", "datasource",
             lambda: (ctx.spark.read.format("sketchview")
                      .option("path", self.path).load()
                      .filter(F.col("role") == cfg.read_role).toPandas())),
        )
        ops, answers = [], []
        for call, want in zip(calls, self.totals):
            op, out = self._timed(*call)
            op.ok = int(out["rows"].sum()) == int(want)
            if call[0] == "read":
                op.ok = op.ok and len(out) == cfg.buckets
            if not op.ok:
                ctx.log(f"{call[1]}: answer rows {int(out['rows'].sum())} "
                        f"!= facts {int(want)} (or missing groups)")
            ops.append(op)
            answers.append(out)
        return ops, tuple(answers)

    def step(self) -> list[Op]:
        """One cycle: append the next day, ask the three questions, compact.
        The day's facts are generated and cached before the timed calls."""
        ctx = self.ctx
        self.day += 1
        facts = self._facts(self.day).persist(StorageLevel.MEMORY_ONLY)
        counts = self._counts(facts)  # this job also fills the cache
        self.totals = self.totals + counts
        with ctx.tracer.span(self.root_span):
            append, _ = self._timed(
                "append", "view.view_append", "view",
                lambda: view_append(facts, VIEW_SPEC, ["conv_id"], self.path),
                rows=int(counts[0]))
            asked, self.last = self._ask()
        facts.unpersist()
        append.ok = all(o.ok for o in asked)
        if ctx.tracer.enabled:
            self.manifest_samples.append(_manifest_metrics(self.path))
        return [append, *asked, self._compact()]

    def _compact(self) -> Op:
        with self.ctx.tracer.span("compact"):
            op, _ = self._timed(
                "compact", "view.view_compact", "view",
                lambda: view_compact(self.ctx.spark, self.path))
        return op

    def _fresh(self) -> tuple:
        """The same three answers from a fresh grouped_sketch over every
        fact in the view (days 0 .. self.day)."""
        cfg = self.cfg
        facts = self._facts(0, self.day + 1)

        def est(job):
            df, keys = job
            g = grouped_sketch(df, keys, VIEW_SPEC, ["conv_id"])
            return _answer(with_sketch_estimate(g).drop("sketch")
                           .toPandas(), keys)
        jobs = [(facts, ["role"]),
                (facts.filter(F.col("bucket") < cfg.filter_below), ["role"]),
                (facts.filter(F.col("role") == cfg.read_role), VIEW_DIMS)]
        with ThreadPoolExecutor(len(jobs)) as pool:
            return tuple(pool.map(est, jobs))

    def _matches(self, answers, fresh, when: str) -> bool:
        keys = (["role"], ["role"], VIEW_DIMS)
        for name, got, want, k in zip(("coarse", "filtered", "read"),
                                      answers, fresh, keys):
            if not _answer(got, k).equals(want):
                self.ctx.log(f"{name} answer {when} compaction differs "
                             "from a fresh grouped_sketch")
                return False
        return True

    def finish(self) -> list[Op]:
        """Check the last cycle's answers (made before its compaction) and
        the same answers after it against fresh builds; then checkpoint
        half a build and resume it."""
        fresh = self._fresh()
        before = self._matches(self.last, fresh, "before")
        with self.ctx.tracer.span("verify"):
            asked, answers = self._ask()
        after = self._matches(answers, fresh, "after")
        for op in asked:
            op.ok = op.ok and before and after
        return [*asked, self._checkpoint_resume()]

    def _checkpoint_resume(self) -> Op:
        ctx = self.ctx
        facts = _cache(self._facts(0))
        ckpt = f"{ctx.work_dir}/ckpt"
        shutil.rmtree(ckpt, ignore_errors=True)
        full = sketch_dataframe(facts, CKPT_SPEC, ["conv_id"]).to_bytes()
        half = set(range(self.cfg.partitions // 2))
        with ctx.tracer.span("checkpoint"):
            self._timed("checkpoint", "checkpoint.checkpoint_partials",
                        "checkpoint",
                        lambda: checkpoint_partials(
                            facts, CKPT_SPEC, ["conv_id"], ckpt, "bench",
                            only_pids=half))
            missing = missing_pids(ckpt, "bench")
            op, manifest = self._timed(
                "resume", "checkpoint.resume", "checkpoint",
                lambda: resume(ctx.spark, facts, CKPT_SPEC, ["conv_id"],
                               ckpt, "bench"))
        op.ok = merged_sketch_bytes(ctx.spark, ckpt, "bench") == full
        if not op.ok:
            ctx.log("resumed checkpoint bytes differ from a full build")
        facts.unpersist()
        self.resume_info = {
            "partitions_missing": len(missing),
            "rows_missing": sum(manifest.completed[str(p)]["rows"]
                                for p in missing)}
        return op

    def digest(self) -> tuple[str, str] | None:
        return None

    def layer_metrics(self) -> dict[str, float]:
        """The view, datasource and checkpoint layers, plus the agg and
        spark layers' metrics of each cycle's calls.  The view's sketch is
        HLL(p=10) alone, so the four-sketch kernel, codec and merge
        micro-timers of build_hot have nothing here to time and read 0."""
        tracer = self.ctx.tracer
        out = _agg_layer_metrics(tracer, self.root_span, self.cfg.day_rows,
                                 exclude_module="datasource")
        appends, queries, reads = [], [], []
        for root in tracer.roots(self.root_span):
            for c in tracer.children(root):
                if c.name == "view.view_append":
                    appends.append(c.stats)
                elif c.name.startswith("view.view_query"):
                    queries.append(c.stats)
                elif c.name == "datasource.read":
                    reads.append(c.stats)
        out["view.append.rows_in"] = float(self.cfg.day_rows)
        out["view.append.written_bytes"] = _med(
            s["output_bytes"] for s in appends)
        out["view.query.segment_files"] = _med(
            s["files_read"] for s in queries)
        # the scan publishes no Python-worker time: its tasks' run time is
        # mostly spent waiting on the Python reader (their CPU time is small)
        out["datasource.read.task_run_s"] = _med(s["run_s"] for s in reads)
        out["datasource.read.python_bytes_out"] = _med(
            s["py_bytes_out"] for s in reads)
        out["datasource.read.rows_returned"] = _med(
            s["source_rows_out"] for s in reads)
        for key in ("view.segments_active", "view.manifest_rows"):
            out[key] = _med(m[key] for m in self.manifest_samples)
        resume_span = [s for s in tracer.spans
                       if s.name == "checkpoint.resume"]
        crossed = resume_span[-1].stats["py_rows_in"] if resume_span else 0.0
        info = self.resume_info
        out["checkpoint.resume.partitions_missing"] = float(
            info["partitions_missing"])
        out["checkpoint.resume.rows_crossed"] = crossed
        out["checkpoint.resume.useful_ratio"] = (
            info["rows_missing"] / crossed if crossed else 0.0)
        return out


def _manifest_metrics(path: str) -> dict[str, float]:
    """Active segments and manifest rows, read from the view's manifest
    files directly (outside the library)."""
    import pyarrow.parquet as pq
    t = pq.read_table(path.rstrip("/") + "/manifest", columns=["active"])
    active = t.column("active").to_pylist()
    return {"view.segments_active": float(sum(active)),
            "view.manifest_rows": float(len(active))}


WORKLOADS = {
    "build_hot": lambda ctx: BuildWorkload(ctx, HOT),
    "views_rw": ViewsWorkload,
}
