"""In-process micro-timers: sketch update kernels, the hash-index kernel,
the sketch codec and the driver-side fold, timed on pandas batches and
partial blobs captured from the workload's own input at set-up.

No Spark scheduling is involved, so a kernel or codec change shows here
without the noise of task launch, the Arrow crossing or the shuffle.
Batches are fed in chunks of the session's Arrow batch size, the size the
kernels see inside ``mapInPandas``.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

from sparksketch.hashing import edh_indices
from sparksketch.sketches import merge_blob_list, sketch_from_bytes

REPS = 5


def _median_seconds(fn, reps: int = REPS) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _chunks(pdf: pd.DataFrame, size: int) -> list[pd.DataFrame]:
    return [pdf.iloc[i:i + size] for i in range(0, len(pdf), size)]


def _update_ns_per_row(spec, pdf: pd.DataFrame, chunk: int,
                       reduced: bool) -> float:
    parts = _chunks(pdf, chunk)
    update = spec.update_reduced if reduced else spec.update

    def run():
        sk = spec.empty()
        for p in parts:
            update(sk, p)
    return _median_seconds(run) / max(len(pdf), 1) * 1e9


def kernel_metrics(specs: dict, raw: pd.DataFrame, reduced: pd.DataFrame,
                   kll_values: np.ndarray, chunk: int) -> dict[str, float]:
    """``specs`` maps hll/bloom/cms/kll to the workload's sketch specs.
    ``raw`` holds the per-turn key hashes ``h_conv`` and ``h_tool``;
    ``reduced`` holds one row per distinct (h_conv, h_tool) pair with its
    multiplicity in ``_cnt``, the batch the pre-reduced crossing ships."""
    raw_batches = {
        "hll": pd.DataFrame({"h1": raw["h_conv"]}),
        "bloom": pd.DataFrame({"h1_0": raw["h_conv"],
                               "h1_1": raw["h_tool"]}),
        "cms": pd.DataFrame({"h1": raw["h_tool"]}),
        "kll": pd.DataFrame({"value": kll_values.astype(np.float64)}),
    }
    cnt = reduced["_cnt"]
    reduced_batches = {
        "hll": pd.DataFrame({"h1": reduced["h_conv"], "_cnt": cnt}),
        "bloom": pd.DataFrame({"h1_0": reduced["h_conv"],
                               "h1_1": reduced["h_tool"], "_cnt": cnt}),
        "cms": pd.DataFrame({"h1": reduced["h_tool"], "_cnt": cnt}),
    }
    out = {}
    for kind, batch in raw_batches.items():
        out[f"sketches.update.{kind}.ns_per_row"] = _update_ns_per_row(
            specs[kind], batch, chunk, reduced=False)
    for kind, batch in reduced_batches.items():
        out[f"sketches.update_reduced.{kind}.ns_per_row"] = \
            _update_ns_per_row(specs[kind], batch, chunk, reduced=True)
    shape = specs["bloom"].shape
    h = [p.to_numpy() for p in _chunks(raw[["h_conv"]], chunk)]
    out["hashing.edh_indices.ns_per_row"] = _median_seconds(
        lambda: [edh_indices(c[:, 0], None, shape.k, shape.m) for c in h]
    ) / max(len(raw), 1) * 1e9
    return out


def codec_metrics(finals: dict[str, bytes]) -> dict[str, float]:
    """Encode/decode time and size of each final sketch."""
    out = {}
    for kind, blob in finals.items():
        sk = sketch_from_bytes(blob)
        out[f"sketches.codec.{kind}.decode_ms"] = _median_seconds(
            lambda: sketch_from_bytes(blob)) * 1e3
        out[f"sketches.codec.{kind}.encode_ms"] = _median_seconds(
            sk.to_bytes) * 1e3
        out[f"sketches.codec.{kind}.bytes"] = float(len(blob))
    return out


def fold_seconds(partials: dict[str, list[bytes]]) -> float:
    """Driver-side fold of captured partial blobs, summed over sketches."""
    return sum(_median_seconds(lambda b=blobs: merge_blob_list(b))
               for blobs in partials.values())
