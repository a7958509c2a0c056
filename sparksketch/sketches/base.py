"""Canonical sketch codec + registry.

Every sketch serializes to ``bytes`` with a fixed little-endian layout:

    magic 'SKS1' (4B) | version u8 | kind u8 | flags u16 | kind-specific body

The codec is *canonical*: a given sketch state has exactly one byte
representation, and all mergeable sketch kinds use bitwise-commutative merge
ops (OR / sum / max / min / union-by-key), so any merge tree over the same
input multiset produces byte-identical output (BASELINE.json north_rule).
Order-sensitive kinds (stable BF) and canonical-but-history-dependent kinds
(KLL, t-digest) document their weaker guarantee in their own modules.

Two kinds merge ELEMENTWISE over a fixed-width body and declare it when
they register: HLL (uint8 registers, ``np.maximum``) and dense Bloom
(words, ``np.bitwise_or``; byte-wise OR gives the same bytes).
:func:`merge_blob_runs` folds runs of such blobs that share a prefix with
one stacked NumPy reduction and no sketch objects; every other kind, and
any prefix mix, decodes and merges.  :func:`merge_blob_list` and
:func:`merge_bytes` are its one-run case, so there is one merge.

Reference merge semantics: StableBloomFilter.java:106-108 (merge(BloomFilter)
== union of set bits); commons-collections4 BloomFilter contract.
"""

from __future__ import annotations

import struct
from typing import Callable, ClassVar

import numpy as np

MAGIC = b"SKS1"
# VERSION 2 (round 5): the EDH probe-hash scheme changed in round 4 —
# h2 is now derived worker-side as splitmix64(h1 ^ H2_MIX)
# (hashing.derive_h2) instead of the retired xxhash64(0xB10F, cols)
# column.  A version-1 blob DECODES fine but would be PROBED with the
# wrong index sequence (silent false negatives / wrong counts), so the
# header must make the scheme change loud: version is bumped and the
# flags word records the probe-hash scheme id.  ADVICE r04 (medium).
VERSION = 2
# flags low byte = probe-hash scheme id
HASH_SCHEME_SPLITMIX_REMIX = 1
_HEADER = struct.Struct("<4sBBH")

# kind ids
KIND_BLOOM = 1
KIND_BLOOM_SPARSE = 2
KIND_COUNTING = 3
KIND_STABLE = 4
KIND_LAYERED = 5
KIND_HLL = 6
KIND_CMS = 7
KIND_KLL = 8
KIND_TDIGEST = 9
KIND_BOTTOMK = 10
KIND_MINHASH = 11
KIND_COUNTING_V2 = 12  # narrow saturating cells (u16/i32); v1 = i64

HEADER_SIZE = _HEADER.size

_REGISTRY: dict[int, Callable[[memoryview], "Sketch"]] = {}
# kind -> (body offset, ufunc) for the kinds that declare an elementwise merge
_ELEMENTWISE: dict[int, tuple[int, np.ufunc]] = {}


def register(kind: int, decoder: Callable[[memoryview], "Sketch"],
             elementwise: tuple[int, np.ufunc] | None = None) -> None:
    """Register a kind's decoder.  ``elementwise=(body_offset, ufunc)``
    declares that two blobs of the kind with equal bytes before
    ``body_offset`` (header plus shape) merge to that prefix plus ``ufunc``
    over their uint8 bodies, which lets :func:`merge_blob_runs` fold them
    without decoding."""
    _REGISTRY[kind] = decoder
    if elementwise is not None:
        _ELEMENTWISE[kind] = elementwise


def pack_header(kind: int) -> bytes:
    return _HEADER.pack(MAGIC, VERSION, kind, HASH_SCHEME_SPLITMIX_REMIX)


def sketch_from_bytes(data: bytes | bytearray | memoryview) -> "Sketch":
    mv = memoryview(data)
    magic, version, kind, flags = _HEADER.unpack_from(mv, 0)
    if magic != MAGIC:
        raise ValueError("not a sketch: bad magic")
    if version == 1:
        # loud, actionable failure instead of silent wrong probes
        raise ValueError(
            "sketch blob is wire-version 1: it was persisted under the "
            "retired xxhash64(0xB10F, cols) probe-hash scheme and cannot "
            "be probed correctly by this build (h2 is now derived as "
            "splitmix64(h1 ^ H2_MIX), hashing.derive_h2).  Re-build the "
            "sketch from source data.")
    if version != VERSION:
        raise ValueError(f"unsupported sketch version {version}")
    if (flags & 0xFF) != HASH_SCHEME_SPLITMIX_REMIX:
        raise ValueError(
            f"sketch blob records probe-hash scheme {flags & 0xFF}, "
            f"this build uses {HASH_SCHEME_SPLITMIX_REMIX} — rebuild "
            "required")
    try:
        decoder = _REGISTRY[kind]
    except KeyError:
        raise ValueError(f"unknown sketch kind {kind}") from None
    return decoder(mv[_HEADER.size:])


def merge_bytes(a: bytes | None, b: bytes | None) -> bytes | None:
    """Associative merge over serialized sketches; ``None``/empty is identity.

    The pairwise form of :func:`merge_blob_list`, behind the
    ``sketch_merge`` SQL function (sqlfuncs.py).
    """
    if not a:
        return b
    if not b:
        return a
    return merge_blob_list([a, b])


def merge_blob_list(blobs) -> bytes | None:
    """Fold many serialized sketches into one blob: the one-run case of
    :func:`merge_blob_runs`.  ``None``/empty blobs are skipped; ``None``
    when nothing is left."""
    return merge_blob_runs(blobs, [0])[0]


def _fold_decoded(blobs) -> bytes | None:
    """Decode each blob once and merge in place into one accumulator (N
    decodes + 1 encode)."""
    acc = None
    for b in blobs:
        if not b:
            continue
        if acc is None:
            acc = sketch_from_bytes(b)
        else:
            acc.merge(sketch_from_bytes(b))
    return None if acc is None else acc.to_bytes()


def _elementwise_layout(blobs: list) -> tuple[int, np.ufunc] | None:
    """The shared ``(body offset, ufunc)`` of ``blobs`` (non-empty) when
    they are all one elementwise kind with one length and one prefix, and
    the first decodes and re-encodes to itself (valid header, canonical
    length) — so every blob does; else ``None``."""
    b0 = blobs[0]
    lay = (_ELEMENTWISE.get(b0[5]) if len(b0) > HEADER_SIZE
           else None)  # byte 5 is the kind id
    if lay is None:
        return None
    off, n, prefix = lay[0], len(b0), bytes(b0[:lay[0]])
    if any(len(b) != n or b[:off] != prefix for b in blobs):
        return None
    if sketch_from_bytes(b0).to_bytes() != b0:
        return None
    return lay


# bytes stacked at a time when reducing a long run: a run of MB-scale
# bitmaps is copied ~16 MB at a time, not whole
_BLOCK_BYTES = 16 << 20


def merge_blob_runs(blobs, starts) -> list[bytes | None]:
    """Merged blob of each run ``blobs[starts[i]:starts[i+1]]`` (the last
    run ends at ``len(blobs)``), byte-identical to decoding and merging each
    run in order.  ``None``/empty blobs are skipped; a run with nothing
    else merges to ``None``.

    When every blob is one elementwise kind (HLL: uint8 registers under
    ``np.maximum``; dense Bloom: words under ``np.bitwise_or``) with one
    length and one prefix, no sketch object is built: the bodies are read
    as one ``[n x body]`` uint8 matrix and each run is reduced by the
    kind's ufunc — per run when runs are few and long, else one gather per
    run offset across all runs.  Every other kind, and any mix of prefixes
    (HLL precisions, dense with sparse Bloom), decodes and merges run by
    run, so mismatches raise exactly as a single merge does."""
    blobs = list(blobs)
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.append(starts[1:], len(blobs))
    live = [b for b in blobs if b]
    lay = _elementwise_layout(live) if live else None
    if lay is None:
        return [_fold_decoded(blobs[s:e]) for s, e in zip(starts, ends)]
    off, ufunc = lay
    prefix, width = bytes(live[0][:off]), len(live[0])
    # run bounds over the live blobs only
    pos = np.concatenate([[0], np.cumsum([bool(b) for b in blobs])])
    lo, lens = pos[starts], pos[ends] - pos[starts]
    out: list[bytes | None] = [None] * len(starts)
    runs = np.flatnonzero(lens)
    if not len(runs):
        return out

    def stack(a: int, b: int) -> np.ndarray:
        return np.frombuffer(b"".join(live[a:b]), dtype=np.uint8).reshape(
            b - a, width)[:, off:]

    if lens.max() > len(runs):  # few long runs: reduce each run
        step = max(1, _BLOCK_BYTES // width)
        for r in runs:
            a, b = int(lo[r]), int(lo[r] + lens[r])
            acc = ufunc.reduce(stack(a, min(b, a + step)), axis=0)
            for c in range(a + step, b, step):
                ufunc(acc, ufunc.reduce(stack(c, min(b, c + step)), axis=0),
                      out=acc)
            out[r] = prefix + acc.tobytes()
        return out
    # many short runs: longest first, so the runs still open at offset j
    # are a prefix of the order
    body = stack(0, len(live))
    order = runs[np.argsort(-lens[runs], kind="stable")]
    first, n_open = lo[order], lens[order]
    acc = body[first]
    for j in range(1, int(n_open[0])):
        k = int(np.count_nonzero(n_open > j))
        ufunc(acc[:k], body[first[:k] + j], out=acc[:k])
    for r, merged in zip(order, acc):
        out[r] = prefix + merged.tobytes()
    return out


class Sketch:
    """Common interface: merge is in-place and must be commutative +
    associative for all kinds except the stable filter (which documents
    ordered-replay semantics instead)."""

    KIND: ClassVar[int] = 0

    def merge(self, other: "Sketch") -> None:  # pragma: no cover - interface
        raise NotImplementedError

    def to_bytes(self) -> bytes:  # pragma: no cover - interface
        raise NotImplementedError
