"""Structured Streaming layer (SURVEY.md §7 step 8; Table C streaming row).

Two streaming shapes cover the reference's streaming semantics:

1. **Continuous stable-BF dedup** (:func:`stable_dedup_stream`) — the
   reference's StableBloomFilter IS a streaming stateful operator
   (unbounded-stream duplicate detection with decay, SIGMOD 2006 per
   StableBloomFilter.java:16).  Implemented as an
   ``applyInPandasWithState`` custom stateful operator keyed by
   conversation: the group state carries the serialized stable filter plus
   its decrement-PRNG position, so replay is byte-deterministic across
   micro-batches given the same batch boundaries and (key, order) sort.

2. **Windowed mergeable sketches** (:class:`WindowedSketchState`) — a
   ``foreachBatch`` sink that builds per-(window, group) partial sketches
   from each micro-batch with the batch engine and merges them into a
   parquet state table.  Because every mergeable sketch kind here has a
   commutative+associative merge, LATE DATA needs no special machinery:
   a late row's partial simply merges into its window's sketch whenever it
   arrives — the algebra, not a watermark, provides the correction.  (A
   watermark can still bound state retention; pass ``watermark=`` to have
   windows older than the horizon dropped from state.)

State is parquet in the sandbox; swap the two read/write calls for an
Iceberg/Delta table in production (same dataframes, transactional commit).
"""

from __future__ import annotations

import os
from typing import Iterator, Sequence, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from .agg import SketchSpec, _grouped_partials, regroup_sketch_rows
from .io import write_text_atomic
from .shape import StableShape
from .sketches import sketch_from_bytes
from .sketches.stable import StableBloomFilter


# ---------------------------------------------------------------------------
# 1. continuous stable dedup: applyInPandasWithState
# ---------------------------------------------------------------------------

def _make_stable_dedup_fn(sshape: StableShape, key_col: str,
                          order_cols: list[str], seed: int,
                          idle_timeout_ms: int | None):
    """The per-group stateful function behind :func:`stable_dedup_stream`,
    factored out so tests can drive the timeout/eviction path with a fake
    ``GroupState``."""

    def fn(key: Tuple, pdfs: Iterator[pd.DataFrame],
           state) -> Iterator[pd.DataFrame]:
        from .hashing import hash_bytes64
        if idle_timeout_ms is not None and state.hasTimedOut:
            # Eviction = the key's decaying memory is dropped wholesale.
            # Re-seed rule: a returning key restarts from the SAME
            # deterministic key_seed (derived from the key alone, not from
            # history), so replay determinism is preserved given the same
            # batch boundaries — the filter simply forgets, which is the
            # stable filter's own semantics taken to the idle limit.
            state.remove()
            return
        key_seed = seed ^ hash_bytes64(repr(key).encode())
        if state.exists:
            blob, rng_row = state.get
            sk = sketch_from_bytes(bytes(blob))
            sk.prng.row = int(rng_row)
        else:
            sk = StableBloomFilter(sshape, seed=key_seed)
        # Spark delivers a group's micro-batch rows as MULTIPLE unsorted
        # Arrow chunks; sorting chunks independently would replay rows out
        # of order whenever a key's batch exceeds one chunk (~10k rows).
        # Materialize the iterator and sort the whole group ONCE — group
        # state is already O(group rows per micro-batch) here, and the
        # order-dependent stable replay requires the total order anyway.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = (pd.concat(chunks, ignore_index=True)
                   if len(chunks) > 1 else chunks[0])
            pdf = pdf.sort_values(order_cols, kind="mergesort")
            flags = sk.insert_hashes_flagged(pdf["h1"].to_numpy())
            out = pdf[[key_col, *order_cols]].copy()
            out["is_dup"] = flags
            yield out
        state.update((sk.to_bytes(), int(sk.prng.row)))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)

    return fn


def stable_dedup_stream(df: DataFrame, sshape: StableShape,
                        cols: Sequence[str], key_col: str = "conv_id",
                        order_cols: Sequence[str] = ("turn_idx",),
                        seed: int = 42,
                        idle_timeout_ms: int | None = None) -> DataFrame:
    """Per-key continuous dedup over a (possibly streaming) DataFrame.

    Output: ``(key, *order_cols, is_dup)`` — ``is_dup`` is the stable
    filter's pre-insert membership ("seen recently", with decay), evaluated
    in ``order_cols`` order within each micro-batch.  Group state =
    (serialized filter, PRNG row), so the decrement stream continues
    exactly where the previous batch left off.

    ``idle_timeout_ms`` bounds the state store under unbounded key
    cardinality: a key that receives no rows for that long has its
    (sketch, prng) state row EVICTED via a processing-time timeout.  A
    returning key re-seeds deterministically from (seed, key), i.e. it
    restarts with an empty decaying memory — the documented trade: bounded
    state for "forgets across long idle gaps", which is the stable filter's
    own decay semantics at the idle limit.  ``None`` keeps state forever
    (only safe for bounded key populations)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    order_cols = list(order_cols)
    key_t = dict(df.dtypes)[key_col]
    order_t = dict(df.dtypes)
    prepared = df.select(
        F.col(key_col), *[F.col(c) for c in order_cols],
        F.xxhash64(*cols).alias("h1"))

    out_schema = ", ".join(
        [f"`{key_col}` {key_t}"]
        + [f"`{c}` {order_t[c]}" for c in order_cols]
        + ["is_dup boolean"])
    state_schema = "sketch binary, rng_row long"
    fn = _make_stable_dedup_fn(sshape, key_col, order_cols, seed,
                               idle_timeout_ms)
    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if idle_timeout_ms is not None
               else GroupStateTimeout.NoTimeout)
    return prepared.groupBy(key_col).applyInPandasWithState(
        fn, out_schema, state_schema, "append", timeout)


# ---------------------------------------------------------------------------
# 2. windowed mergeable sketches: foreachBatch + algebraic late-data merge
# ---------------------------------------------------------------------------

class WindowedSketchState:
    """``foreachBatch`` sink: per-(window, group) sketches merged across
    micro-batches into a parquet state table.

    Usage::

        wss = WindowedSketchState(spec, ["user_id"], state_dir, "1 day")
        q = (stream.writeStream.foreachBatch(wss.process_batch)
             .trigger(availableNow=True).start()); q.awaitTermination()
        final = wss.snapshot(spark)   # window_start, [groups...], sketch

    Each batch runs stage 1 of the *batch* engine (`grouped_sketch`) over
    ``window(ts)`` + group columns and folds those partials together with
    the stored state in ONE pass — one tiny read-merge-write per batch
    over KB-scale rows.
    A hot window or group needs no special handling: the build's map-side
    combine emits at most one partial per input partition for it.  Late
    rows merge into their (old) window algebraically.
    """

    def __init__(self, spec: SketchSpec, cols: Sequence[str],
                 state_dir: str, window: str = "1 hour",
                 ts_col: str = "ts", group_cols: Sequence[str] = (),
                 watermark: str | None = None):
        self.spec = spec
        self.cols = list(cols)
        self.state_dir = state_dir
        self.window = window
        self.ts_col = ts_col
        self.group_cols = list(group_cols)
        self.watermark = watermark
        self._max_seen_ts = None
        # adopt pre-versioning state: the original layout was a bare
        # 'windows' dir with no CURRENT pointer — without this, an upgrade
        # would silently restart from empty state (and never GC the orphan)
        legacy = os.path.join(self.state_dir, "windows")
        if self._read_pointer() is None and os.path.isdir(legacy):
            self._commit("windows")
        # crash-safe restart: the eviction horizon is persisted in the
        # pointer file alongside the live state version, so a new process
        # resumes with the same watermark high-mark
        cur = self._read_pointer()
        if cur is not None and cur.get("max_seen_ts"):
            import datetime
            self._max_seen_ts = datetime.datetime.fromisoformat(
                cur["max_seen_ts"])

    @property
    def _keys(self) -> list[str]:
        return ["window_start", *self.group_cols]

    # -- versioned state: write-new-dir + atomic pointer swap ---------------
    # A crash at ANY point leaves either the old pointer (old state intact)
    # or the new pointer (new state fully written): never a half-deleted
    # live directory.  In production the pointer is an Iceberg/Delta commit.

    def _pointer_path(self) -> str:
        return os.path.join(self.state_dir, "CURRENT")

    def _read_pointer(self) -> dict | None:
        import json
        try:
            with open(self._pointer_path()) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def _current_state_path(self) -> str | None:
        cur = self._read_pointer()
        if cur is None:
            return None
        path = os.path.join(self.state_dir, cur["version"])
        return path if os.path.exists(path) else None

    def _commit(self, version: str) -> None:
        import json
        write_text_atomic(self._pointer_path(), json.dumps(
            {"version": version,
             "max_seen_ts": (self._max_seen_ts.isoformat()
                             if self._max_seen_ts else None)}))

    def _gc_old_versions(self, keep: str) -> None:
        import shutil
        for name in os.listdir(self.state_dir):
            if ((name.startswith("windows_v") or name == "windows")
                    and name != keep):
                shutil.rmtree(os.path.join(self.state_dir, name),
                              ignore_errors=True)

    def _merged(self, batch_df: DataFrame) -> DataFrame:
        """The next state: the stored state and the batch's partials
        (:func:`~sparksketch.agg.grouped_sketch`'s stage 1) folded once per
        (window, group), the state first (``_pid = -1``) and then the
        partials in partition order, so KLL and t-digest bytes reproduce."""
        spark = batch_df.sparkSession
        keyed = batch_df.withColumn(
            "window_start",
            F.window(F.col(self.ts_col), self.window)["start"])
        parts = _grouped_partials(keyed, self._keys,
                                  {"sketch": (self.spec, self.cols)})
        live = self._current_state_path()
        if live is not None:
            parts = (spark.read.parquet(live)
                     .withColumn("_pid", F.lit(-1).cast("long"))
                     .unionByName(parts, allowMissingColumns=True))
        merged = regroup_sketch_rows(parts, self._keys, order_cols=["_pid"])
        if self.watermark is not None:
            hi = keyed.select(F.max("window_start")).first()[0]
            if hi is not None:
                self._max_seen_ts = (hi if self._max_seen_ts is None
                                     else max(self._max_seen_ts, hi))
            if self._max_seen_ts is not None:
                merged = merged.filter(
                    F.col("window_start")
                    >= F.lit(self._max_seen_ts)
                    - F.expr(f"INTERVAL {self.watermark}"))
        return merged

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        version = f"windows_v{batch_id}"
        self._merged(batch_df).write.mode("overwrite").parquet(
            os.path.join(self.state_dir, version))
        self._commit(version)
        self._gc_old_versions(keep=version)

    def snapshot(self, spark: SparkSession) -> DataFrame:
        """Current merged state: one row per (window, group)."""
        live = self._current_state_path()
        if live is None:
            raise FileNotFoundError(
                f"no committed window state under {self.state_dir}")
        return spark.read.parquet(live)
