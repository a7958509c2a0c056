"""Per-call Spark metrics, read from Spark's own status stores by job group.

The benchmark tags each library call with a job group
(``SparkContext.setJobGroup``) and, after the call returns, reads:

- the stage store (``SparkContext.statusStore``): executor run and CPU
  time, GC time, task count, result bytes, shuffle-write bytes and output
  bytes of every stage the group's jobs ran;
- the SQL store (``SharedState.statusStore``): per-operator SQL metrics of
  every SQL execution that ran one of those jobs.  Python operators
  (``MapInPandas``, ``ArrowEvalPython``, the ``sketchview`` scan, ...) are
  recognised by their "data sent to Python workers" metric; the rows they
  receive are the output rows of the nearest child operator that counts
  rows.

SQL metric values are only published as display strings ("1,234",
"3.7 MiB", "1.2 s"), so byte and time values carry the display precision
(three significant digits); row counts are exact.
"""

from __future__ import annotations

import re
from collections import defaultdict

_UNITS = {
    None: 1.0, "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2,
    "GiB": 1024.0 ** 3, "TiB": 1024.0 ** 4,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^([\d,]+(?:\.\d+)?)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)?$")

# executions scanned per read: a call's executions are always among the
# newest, and the store keeps up to spark.sql.ui.retainedExecutions
_RECENT_EXECUTIONS = 48


def parse_metric(text: str | None) -> float | None:
    """Numeric value of one SQL metric display string, in rows, bytes or
    seconds.  Aggregated metrics print a "total (min, med, max ...)" header
    line followed by "<total> (<min>, ...)"; only the total is kept."""
    if text is None:
        return None
    line = text.strip().split("\n")[-1]
    head = line.split(" (")[0].strip()
    m = _VALUE.match(head)
    if m is None:
        return None
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def _seq(scala_seq) -> list:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


class GroupStats(dict):
    """Summed metrics of one job group; missing keys read as 0."""

    def __missing__(self, key):
        return 0.0

    def add(self, other: "GroupStats") -> None:
        for k, v in other.items():
            self[k] += v


class SparkStats:
    """Reader over both status stores of one SparkSession."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._stages = self._sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gw = self._sc._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)

    def group(self, group: str) -> GroupStats:
        out = GroupStats()
        job_ids = set(self._sc.statusTracker().getJobIdsForGroup(group))
        if not job_ids:
            return out
        out["jobs"] = len(job_ids)
        for jid in job_ids:
            for sid in _seq(self._stages.job(jid).stageIds()):
                self._add_stage(out, sid)
        for eid in self._executions(job_ids):
            self._add_execution(out, eid)
        return out

    def _add_stage(self, out: GroupStats, stage_id: int) -> None:
        for sd in _seq(self._stages.stageData(
                stage_id, False, self._no_status, False,
                self._no_quantiles)):
            if str(sd.status()) != "COMPLETE":
                continue  # skipped stages reuse another job's shuffle
            cpu = sd.executorCpuTime() / 1e9
            shuffle_write = sd.shuffleWriteBytes()
            out["tasks"] += sd.numCompleteTasks()
            out["run_s"] += sd.executorRunTime() / 1e3
            out["cpu_s"] += cpu
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["result_bytes"] += sd.resultSize()
            out["output_bytes"] += sd.outputBytes()
            out["shuffle_write_bytes"] += shuffle_write
            if shuffle_write > 0:
                out["map_stage_cpu_s"] += cpu

    def _executions(self, job_ids: set[int]) -> list[int]:
        n = self._sql.executionsCount()
        recent = _seq(self._sql.executionsList(
            max(n - _RECENT_EXECUTIONS, 0), _RECENT_EXECUTIONS))
        return [e.executionId() for e in recent
                if job_ids & {int(k) for k in _seq(e.jobs().keys())}]

    def _add_execution(self, out: GroupStats, eid: int) -> None:
        graph = self._sql.planGraph(eid)
        values = self._sql.executionMetrics(eid)
        names: dict[int, str] = {}
        metrics: dict[int, dict[str, float]] = {}
        for node in _seq(graph.allNodes()):
            names[node.id()] = node.name()
            got = {}
            for m in _seq(node.metrics()):
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    parsed = parse_metric(v.get())
                    if parsed is not None:
                        got[m.name()] = parsed
            metrics[node.id()] = got
        children = defaultdict(list)
        for edge in _seq(graph.edges()):
            children[edge.toId()].append(edge.fromId())

        def row_source(nid: int) -> tuple[str | None, float]:
            """(operator name, rows) of the nearest descendants of ``nid``
            that count their output rows."""
            total, name = 0.0, None
            for c in children[nid]:
                if "number of output rows" in metrics[c]:
                    total += metrics[c]["number of output rows"]
                    name = name or names[c]
                else:
                    n2, r2 = row_source(c)
                    total += r2
                    name = name or n2
            return name, total

        for nid, got in metrics.items():
            name = names[nid]
            if "data sent to Python workers" in got:
                src, rows_in = row_source(nid)
                out["py_ops"] += 1
                out["py_rows_in"] += rows_in
                out["py_bytes_in"] += got["data sent to Python workers"]
                out["py_bytes_out"] += got.get(
                    "data returned from Python workers", 0.0)
                out["py_run_s"] += got.get("time to run Python workers", 0.0)
                out["py_start_s"] += (
                    got.get("time to start Python workers", 0.0)
                    + got.get("time to initialize Python workers", 0.0))
                if src is not None and src.startswith("HashAggregate"):
                    out["prereduced_rows_out"] += rows_in
                if name.startswith("BatchScan"):
                    out["source_rows_out"] += got.get(
                        "number of output rows", 0.0)
            if name.startswith("Scan parquet"):
                out["files_read"] += got.get("number of files read", 0.0)
