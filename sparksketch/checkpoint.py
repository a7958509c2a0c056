"""Checkpoint / resume with per-partition lineage + metrics (north rule).

Checkpoints commit like sketch views (view.py).  The build task of input
partition ``pid`` (``agg._grouped_partials``, no group columns) writes its
row ``[sketch, rows, _pid, wall_sec]`` (empty sketches and ``rows = 0``
for an empty partition) as one file, ``partials_<run_id>/part-<pid>-
<uuid>.parquet``, with ``io.write_part``.  The driver commits the rows
``(file, rows, pid, wall_sec)`` it collects in ``manifest_<run_id>.json``
(spec repr, input files, partition count and ``completed: {pid: {file,
rows, wall_sec}}``) by a temp-file rename, so a crash mid-write leaves
the previous manifest loadable.  ``merged_sketch_bytes`` opens exactly
the listed files: a file no manifest lists (a failed or speculative
attempt's, a stray one) is never read, and never removed.  ``resume``
builds only the missing pids.  Only local directories are supported."""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass
from typing import Sequence

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, functions as F

from .agg import SketchSpec, _grouped_partials
from .io import fs_path, write_text_atomic
from .sketches import merge_blob_list


@dataclass
class Manifest:
    run_id: str
    spec: str
    input_files: list[str]
    n_partitions: int
    completed: dict[str, dict]  # pid -> {file, rows, wall_sec}

    def to_json(self) -> str:
        return json.dumps(asdict(self), indent=2, sort_keys=True)

    @staticmethod
    def load(path: str) -> "Manifest":
        with open(path) as f:
            m = Manifest(**json.load(f))
        if any("file" not in v for v in m.completed.values()):
            raise ValueError(f"{path} is a checkpoint manifest of an old "
                             "layout, without per-pid files; rebuild the run")
        return m


def _checkpoint(df: DataFrame, spec: SketchSpec, cols: Sequence[str],
                ckpt_dir: str, run_id: str, only_pids: set[int] | None,
                resuming: bool) -> Manifest:
    """Build and commit the pids ``only_pids`` (all if None; if
    ``resuming``, the missing ones).  A prior manifest must match the
    call's spec, partition count and input files, else ``ValueError``."""
    m = Manifest(run_id, repr(spec), sorted(df.inputFiles()),
                 df.rdd.getNumPartitions(), {})
    path = os.path.join(ckpt_dir, f"manifest_{run_id}.json")
    if resuming or os.path.exists(path):
        old = Manifest.load(path)
        for key in ("spec", "n_partitions", "input_files"):
            have, want = getattr(old, key), getattr(m, key)
            if have != want:
                raise ValueError(f"checkpoint run {run_id!r} has {key} "
                                 f"{have!r}, not {want!r}")
        m = old
    if resuming:
        only_pids = set(range(m.n_partitions)) - {int(p) for p in m.completed}
        if not only_pids:
            return m
    os.makedirs(ckpt_dir, exist_ok=True)
    if only_pids is not None:
        df = df.filter(F.spark_partition_id().isin(sorted(only_pids)))
    written = _grouped_partials(
        df, [], {"sketch": (spec, cols)}, write_pids=only_pids,
        write_dir=os.path.join(ckpt_dir, f"partials_{run_id}")).collect()
    m.completed.update({str(r.pid): {"file": r.file, "rows": r.rows,
                                     "wall_sec": round(r.wall_sec, 4)}
                        for r in written})
    write_text_atomic(path, m.to_json())
    return m


def checkpoint_partials(df: DataFrame, spec: SketchSpec,
                        cols: Sequence[str], ckpt_dir: str, run_id: str,
                        only_pids: set[int] | None = None) -> Manifest:
    """Build per-partition sketches and persist them with lineage.

    ``only_pids`` restricts the build to those partitions: the others'
    rows are filtered out on ``spark_partition_id()`` before the Arrow
    crossing, and their tasks write nothing."""
    return _checkpoint(df, spec, cols, ckpt_dir, run_id, only_pids, False)


def missing_pids(ckpt_dir: str, run_id: str) -> set[int]:
    m = Manifest.load(os.path.join(ckpt_dir, f"manifest_{run_id}.json"))
    return set(range(m.n_partitions)) - {int(p) for p in m.completed}


def resume(spark: SparkSession, df: DataFrame, spec: SketchSpec,
           cols: Sequence[str], ckpt_dir: str, run_id: str) -> Manifest:
    """Complete an interrupted run: build only partitions absent from the
    manifest, then refresh the manifest."""
    return _checkpoint(df, spec, cols, ckpt_dir, run_id, None, True)


def merged_sketch_bytes(spark: SparkSession, ckpt_dir: str,
                        run_id: str) -> bytes | None:
    """Final merge over checkpointed partials: the driver opens exactly the
    manifest's files with pyarrow and folds their sketches in pid order
    (canonical for every sketch kind).  No Spark job runs."""
    m = Manifest.load(os.path.join(ckpt_dir, f"manifest_{run_id}.json"))
    fs, d = fs_path(os.path.join(ckpt_dir, f"partials_{run_id}"))
    return merge_blob_list(
        pq.read_table(f"{d}/{m.completed[p]['file']}", columns=["sketch"],
                      filesystem=fs).column("sketch")[0].as_py()
        for p in sorted(m.completed, key=int))
