"""sparksketch benchmark: one run of one workload.

    python3 perfbench/run.py --workload build_hot --seed 1 --seconds 8 --trace 0

Run from the repository root.  The run pins itself (and so the JVM and
every Python worker it starts) to the CPUs it may use, starts Spark on
``local[N]`` with N = that CPU count, sets the workload up three times,
warms up, measures for ``--seconds`` seconds, checks every
answer, and prints one ``name value unit`` line per metric, then a JSON
summary as the last line of standard output.  ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones; BENCHMARK.json at
the repository root names both sets (see perfbench/README.md).  All scratch
data, Spark temp files and the run record go under ``.perfbench_work/``
in the repository root.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOAD_NAMES = ("build_hot", "views_rw")
MODULES = ("bench", "agg", "view", "datasource", "checkpoint")
# per-layer call latencies: operation kind -> metric
CALL_METRICS = {"append": "view.append_ms", "query": "view.query_ms",
                "read": "datasource.read_ms", "compact": "view.compact_ms",
                "resume": "checkpoint.resume_ms"}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def descendants(root: int) -> list[int]:
    parents = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            pp = _ppid(int(name))
            if pp is not None:
                parents[int(name)] = pp
    out, frontier = [], [root]
    while frontier:
        nxt = [p for p, pp in parents.items() if pp in frontier]
        out.extend(nxt)
        frontier = nxt
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of each process."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0


def host_record(cpus: list[int]) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark
    return {
        "nproc": os.cpu_count(),
        "cpus_pinned": cpus,
        "loadavg": list(os.getloadavg()),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "pandas": pandas.__version__,
    }


def start_spark(cores: int):
    from pyspark.sql import SparkSession
    tmp = os.path.join(WORK, "tmp")
    return (SparkSession.builder.master(f"local[{cores}]")
            .appName("sparksketch-perfbench")
            .config("spark.sql.shuffle.partitions", str(cores))
            .config("spark.default.parallelism", str(cores))
            .config("spark.driver.memory", "3g")
            .config("spark.local.dir", os.path.join(WORK, "spark-local"))
            .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
            .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate())


def stop_spark(spark, known: list[int]) -> None:
    """Stop Spark, end the JVM it launched, and wait until every process
    the run started has exited."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    alive = [p for p in known if os.path.exists(f"/proc/{p}")]
    while alive and time.monotonic() < deadline:
        time.sleep(0.2)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def measure(wl, tracer, seconds: float, alternate: bool) -> tuple[list, list]:
    """Closed loop for ``seconds``: each step's calls complete before the
    next begins.  With ``alternate``, every second step is traced, so the
    untraced and traced steps sample the same stretch of the run.  Traced
    steps have their Spark metrics read between steps, outside the steps'
    own timings.  Returns (untraced ops, traced ops)."""
    base, traced = [], []
    deadline = time.monotonic() + seconds
    n = 0
    while time.monotonic() < deadline:
        tracer.enabled = alternate and n % 2 == 1
        (traced if tracer.enabled else base).extend(wl.step())
        tracer.collect_stats()
        n += 1
        if not all(o.ok for o in base + traced):
            break  # a wrong answer ends the run's measurement
    tracer.enabled = alternate  # trace the final checks too
    return base, traced


def op_latencies(wl, ops) -> list[float]:
    """Seconds of each operation whose kind is in ``wl.op_kinds``."""
    return [o.seconds for o in ops if o.kind in wl.op_kinds]


def end_to_end(wl, ops, setup_s) -> dict[str, float]:
    main = [o for o in ops if o.kind in wl.main_kinds]
    busy = sum(o.seconds for o in main)
    return {
        "op_p50_ms": _median(op_latencies(wl, ops)) * 1e3,
        "rows_per_s": sum(o.rows for o in main) / busy if busy else 0.0,
        "setup_s": _median(setup_s),
    }


def per_layer(wl, tracer, base, traced, extra) -> dict:
    """Per-layer metrics of a traced run.  Call latencies come from the
    measured steps only (not the warm-up or the final checks), except for
    calls that only the final checks make (the checkpoint resume)."""
    out = dict(wl.layer_metrics())
    measured = base + traced
    for kind, name in CALL_METRICS.items():
        got = [o.seconds for o in measured if o.kind == kind]
        if not got:
            got = [o.seconds for o in extra if o.kind == kind]
        out[name] = _median(got) * 1e3
    out["bench.op_samples"] = float(len(op_latencies(wl, measured)))
    # self time per module, per traced step (a step's spans form one tree)
    roots = tracer.roots(wl.root_span)
    self_s = {m: 0.0 for m in MODULES}
    stack = list(roots)
    while stack:
        sp = stack.pop()
        self_s[sp.module] += tracer.self_seconds(sp)
        stack.extend(tracer.children(sp))
    for m in MODULES:
        out[f"trace.{m}.self_ms"] = (self_s[m] / len(roots) * 1e3
                                     if roots else 0.0)
    out["trace.overhead_ms"] = (_median(op_latencies(wl, traced))
                                - _median(op_latencies(wl, base))) * 1e3
    return out


def declared_metrics() -> dict[str, dict[str, str]]:
    """``{"end_to_end": {name: unit}, "per_layer": {name: unit}}`` as
    BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {key: {m["name"]: m["unit"] for m in spec[key]}
            for key in ("end_to_end", "per_layer")}


def _with_units(values: dict[str, float], table: dict[str, str]) -> dict:
    """Every metric of ``table`` (0 for a layer the workload does not
    exercise), with its unit."""
    unknown = set(values) - set(table)
    if unknown:
        raise ValueError(f"metrics not in BENCHMARK.json: {sorted(unknown)}")
    return {name: (float(values.get(name, 0.0)), unit)
            for name, unit in table.items()}


def source_digest() -> str:
    """Digest of the sparksketch package's Python sources: runs compare
    sketch bytes only with runs of the same library code."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "sparksketch")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, pkg).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def check_cross_run(workload: str, seed: int,
                    digest: tuple[str, str] | None) -> bool:
    """Sketch bytes for a given workload, input configuration, seed and
    library source must match every earlier run's in this checkout."""
    if digest is None:
        return True
    config, value = digest
    path = os.path.join(WORK, "digests.json")
    known = {}
    if os.path.exists(path):
        with open(path) as f:
            known = json.load(f)
    key = (f"{workload}:{seed}:"
           f"{hashlib.sha256(config.encode()).hexdigest()[:16]}:"
           f"{source_digest()[:16]}")
    if known.get(key, value) != value:
        log(f"sketch bytes differ from an earlier run with seed {seed}")
        return False
    known[key] = value
    with open(path, "w") as f:
        json.dump(known, f, indent=1, sort_keys=True)
    return True


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "sparksketch", "__init__.py")):
        log(f"no sparksketch package under {ROOT}: run from a checkout "
            "of the repository")
        return 2
    sys.path.insert(0, ROOT)
    declared = declared_metrics()

    cpus = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, cpus)  # inherited by the JVM and its workers
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    for d in ("tmp", "spark-local", "records"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.makedirs(run_dir)
    from sparksketch import workerenv
    workerenv.configure()
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")

    host = host_record(cpus)
    steal0 = _cpu_jiffies()
    phases: dict[str, float] = {}
    mark = [time.perf_counter()]

    def phase(name: str) -> None:
        now = time.perf_counter()
        phases[name] = now - mark[0]
        mark[0] = now

    spark = start_spark(len(cpus))
    phase("session")
    session_s = phases["session"]
    spark.sparkContext.setLogLevel("ERROR")
    host["spark"] = spark.version

    from perfbench.trace import Tracer
    from perfbench.workloads import SETUP_REPS, WORKLOADS, Ctx
    tracer = Tracer(spark, f"{args.workload}-{args.seed}-{os.getpid()}")
    ctx = Ctx(spark, args.seed, tracer, run_dir, log)
    wl = WORKLOADS[args.workload](ctx)
    ops, base, traced, extra = [], [], [], []
    phase("init")
    try:
        setup_s = []
        for rep in range(SETUP_REPS):
            t1 = time.perf_counter()
            wl.setup(rep)
            setup_s.append(time.perf_counter() - t1)
        phase("setup")
        wl.prepare()
        phase("prepare")
        ops += wl.warm()
        phase("warm")
        base, traced = measure(wl, tracer, args.seconds, bool(args.trace))
        phase("measure")
        extra = wl.finish()
        tracer.collect_stats()
        phase("finish")
        ops += base + traced + extra
        cross_ok = check_cross_run(args.workload, args.seed, wl.digest())
        if args.trace:
            values = per_layer(wl, tracer, base, traced, extra)
            values["proc.peak_rss_mb"] = peak_rss_mb(
                [os.getpid()] + descendants(os.getpid()))
            values["spark.session_start_s"] = session_s
            metrics = _with_units(values, declared["per_layer"])
        else:
            metrics = _with_units(end_to_end(wl, base, setup_s),
                                  declared["end_to_end"])
        phase("metrics")
    finally:
        stop_spark(spark, descendants(os.getpid()))
        shutil.rmtree(run_dir, ignore_errors=True)
        phase("stop")
    steal1 = _cpu_jiffies()
    host["steal_pct"] = (100.0 * (steal1[0] - steal0[0])
                         / max(steal1[1] - steal0[1], 1))

    failed = sum(not o.ok for o in ops) + (not cross_ok)
    attempted = len(ops)
    main_ops = [o for o in base if o.kind in wl.main_kinds]
    if not main_ops:
        log("no operation completed inside the measured window")
        return 1
    samples = len(op_latencies(wl, base))
    for name, (value, unit) in sorted(metrics.items()):
        note = f" (median of {samples} operations)" if name == "op_p50_ms" \
            else ""
        print(f"{name} {value!r} {unit}{note}")
    print(f"ok_frac {(attempted - failed) / attempted!r} ratio "
          f"({attempted} operations, {samples} timed untraced, "
          f"setup reps {SETUP_REPS})")
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace, "host": host,
              "setup_s": setup_s, "session_start_s": session_s,
              "op_samples": samples,
              "phases_s": phases,
              "ops": [{"kind": o.kind, "seconds": o.seconds, "rows": o.rows,
                       "ok": o.ok} for o in ops],
              "metrics": {k: v for k, (v, _) in metrics.items()},
              "spans": tracer.to_json()}
    with open(os.path.join(WORK, "records", f"{args.workload}-seed"
                           f"{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
