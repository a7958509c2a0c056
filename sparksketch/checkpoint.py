"""Checkpoint / resume with per-partition lineage + metrics
(BASELINE.json north_rule: "resumable from checkpoint with per-partition
lineage + metrics").

Stage-1 output (one sketch row per partition, from the one partial
builder behind agg.build_partials, which also times each partition) is
persisted as parquet keyed by (run_id, pid) together with a manifest JSON
recording input files, spec repr, per-partition row counts and wall-times.
``resume`` re-builds only the missing partitions and re-runs the cheap
merge — the expensive scan+build work is never repeated.

The checkpoint directory must be inside the writable workspace (or a real
object store in production)."""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from .agg import SketchSpec, build_partials
from .sketches import merge_blob_list


@dataclass
class Manifest:
    run_id: str
    spec: str
    input_files: list[str]
    n_partitions: int
    completed: dict[str, dict]  # pid -> {rows, wall_sec}

    def to_json(self) -> str:
        return json.dumps({
            "run_id": self.run_id, "spec": self.spec,
            "input_files": self.input_files,
            "n_partitions": self.n_partitions,
            "completed": self.completed}, indent=2, sort_keys=True)

    @staticmethod
    def load(path: str) -> "Manifest":
        with open(path) as f:
            d = json.load(f)
        return Manifest(d["run_id"], d["spec"], d["input_files"],
                        d["n_partitions"], d["completed"])


def checkpoint_partials(df: DataFrame, spec: SketchSpec,
                        cols: Sequence[str], ckpt_dir: str, run_id: str,
                        only_pids: set[int] | None = None) -> Manifest:
    """Build per-partition sketches and persist them with lineage.

    ``only_pids`` restricts the build to missing partitions (resume path):
    the other partitions' rows are filtered out on ``spark_partition_id()``
    before the Arrow crossing, and the empty sketch rows those partitions
    still emit are dropped, so they are never recorded as completed."""
    os.makedirs(ckpt_dir, exist_ok=True)
    input_files = sorted(df.inputFiles())
    n_parts = df.rdd.getNumPartitions()
    if only_pids is None:
        built = build_partials(df, spec, cols)
    else:
        pids = sorted(only_pids)
        built = build_partials(
            df.filter(F.spark_partition_id().isin(pids)), spec, cols)
        built = built.filter(built.pid.isin(pids))
    out_path = os.path.join(ckpt_dir, f"partials_{run_id}")
    built.write.mode("append").parquet(out_path)

    spark = df.sparkSession
    done = spark.read.parquet(out_path).select("pid", "rows", "wall_sec").collect()
    manifest = Manifest(
        run_id=run_id, spec=repr(spec), input_files=input_files,
        n_partitions=n_parts,
        completed={str(r.pid): {"rows": r.rows, "wall_sec": round(r.wall_sec, 4)}
                   for r in done})
    with open(os.path.join(ckpt_dir, f"manifest_{run_id}.json"), "w") as f:
        f.write(manifest.to_json())
    return manifest


def missing_pids(ckpt_dir: str, run_id: str) -> set[int]:
    m = Manifest.load(os.path.join(ckpt_dir, f"manifest_{run_id}.json"))
    return set(range(m.n_partitions)) - {int(p) for p in m.completed}


def resume(spark: SparkSession, df: DataFrame, spec: SketchSpec,
           cols: Sequence[str], ckpt_dir: str, run_id: str) -> Manifest:
    """Complete an interrupted run: build only partitions absent from the
    manifest, then refresh the manifest."""
    todo = missing_pids(ckpt_dir, run_id)
    if not todo:
        return Manifest.load(os.path.join(ckpt_dir, f"manifest_{run_id}.json"))
    return checkpoint_partials(df, spec, cols, ckpt_dir, run_id,
                               only_pids=todo)


def merged_sketch_bytes(spark: SparkSession, ckpt_dir: str,
                        run_id: str) -> bytes | None:
    """Final merge over checkpointed partials — canonical sorted-pid fold
    (deterministic for every sketch kind), dedup-ing retries by pid.

    Blobs come to the driver through the Arrow ``toPandas`` path
    (agg._collect_partials): the row-object ``collect()`` path re-serializes
    each MB-scale binary per row and is ~50x slower."""
    from .agg import _collect_partials
    path = os.path.join(ckpt_dir, f"partials_{run_id}")
    pdf = _collect_partials(
        spark.read.parquet(path).select("pid", "sketch"))
    seen: dict[int, bytes] = {}
    for pid, blob in zip(pdf["pid"], pdf["sketch"]):
        seen.setdefault(int(pid), bytes(blob))
    return merge_blob_list(seen[p] for p in sorted(seen))
