"""merge_blob_runs (sketches/base.py) against the plain decode-and-merge
loop: for every registered kind, each run's merged blob must be the bytes
that loop gives, whichever kernel the helper picks."""

import numpy as np
import pytest

from sparksketch.shape import Shape, StableShape
from sparksketch.sketches import (BloomFilter, BottomKSketch, CountMinSketch,
                                  CountingBloomFilter, HyperLogLog, KLLSketch,
                                  LayeredBloomFilter, MinHashSketch,
                                  SparseBloomFilter, StableBloomFilter,
                                  TDigest, merge_blob_list, sketch_from_bytes)
from sparksketch.sketches import base

_SHAPE = Shape.from_np(200, 1e-3)


def _hashes(rng, n=6):
    return rng.integers(-2**63, 2**63 - 1, n, dtype=np.int64)


def _stable(rng):
    sk = StableBloomFilter(StableShape(m=256, k=3, fps=0.125, p=2, max=3),
                           seed=7)
    sk.insert_hashes(_hashes(rng))
    return sk


def _with(sk, update):
    update(sk)
    return sk


# one random sketch of each registered kind
FACTORIES = {
    base.KIND_BLOOM: lambda r: _with(BloomFilter(_SHAPE),
                                     lambda s: s.add_hashes(_hashes(r))),
    base.KIND_BLOOM_SPARSE: lambda r: _with(
        SparseBloomFilter(_SHAPE), lambda s: s.add_hashes(_hashes(r))),
    base.KIND_COUNTING: lambda r: _with(
        CountingBloomFilter(_SHAPE), lambda s: s.add_hashes(_hashes(r))),
    base.KIND_COUNTING_V2: lambda r: _with(
        CountingBloomFilter(_SHAPE, cell_bits=16),
        lambda s: s.add_hashes(_hashes(r))),
    base.KIND_STABLE: _stable,
    base.KIND_LAYERED: lambda r: _with(
        LayeredBloomFilter(_SHAPE),
        lambda s: s.add_hashes(r.integers(0, 3, 6), _hashes(r))),
    base.KIND_HLL: lambda r: _with(HyperLogLog(6),
                                   lambda s: s.add_hashes(_hashes(r))),
    base.KIND_CMS: lambda r: _with(CountMinSketch(64, 3),
                                   lambda s: s.add_hashes(_hashes(r))),
    base.KIND_KLL: lambda r: _with(KLLSketch(16),
                                   lambda s: s.add_values(r.normal(size=40))),
    base.KIND_TDIGEST: lambda r: _with(
        TDigest(20), lambda s: s.add_values(r.normal(size=40))),
    base.KIND_BOTTOMK: lambda r: _with(BottomKSketch(16),
                                       lambda s: s.add_hashes(_hashes(r))),
    base.KIND_MINHASH: lambda r: _with(MinHashSketch(16),
                                       lambda s: s.add_hashes(_hashes(r))),
}


def _reference(blobs):
    """Decode each blob and merge it into the first, in order."""
    acc = None
    for b in blobs:
        if not b:
            continue
        sk = sketch_from_bytes(b)
        if acc is None:
            acc = sk
        else:
            acc.merge(sk)
    return None if acc is None else acc.to_bytes()


def _runs(rng, pool, lens):
    """Blobs drawn from ``pool`` (with ``None`` and ``b""`` mixed in) laid
    out as consecutive runs of the given lengths, and the run starts."""
    choices = [*pool, None, b""]
    blobs = [choices[i] for i in rng.integers(0, len(choices), sum(lens))]
    return blobs, np.cumsum([0, *lens[:-1]])


def _check(blobs, starts):
    ends = [*starts[1:], len(blobs)]
    want = [_reference(blobs[s:e]) for s, e in zip(starts, ends)]
    assert base.merge_blob_runs(blobs, starts) == want
    assert [merge_blob_list(blobs[s:e]) for s, e in zip(starts, ends)] == want


def test_every_registered_kind_has_a_factory():
    assert set(FACTORIES) == set(base._REGISTRY)


@pytest.mark.parametrize("block_bytes", [base._BLOCK_BYTES, 1])
@pytest.mark.parametrize("kind", sorted(FACTORIES))
def test_runs_match_reference(kind, block_bytes, monkeypatch):
    # block_bytes=1 folds long runs one stacked row at a time
    monkeypatch.setattr(base, "_BLOCK_BYTES", block_bytes)
    rng = np.random.default_rng(kind)
    pool = [FACTORIES[kind](rng).to_bytes() for _ in range(24)]
    # few long runs (one over 1,000 blobs), then many short ones
    for lens in ([1, 3, 1100, 1, 7], list(rng.integers(1, 5, 300))):
        _check(*_runs(rng, pool, lens))
    # a run of only None/empty blobs merges to None
    assert base.merge_blob_runs([None, b"", pool[0]], [0, 2]) == [None,
                                                                 pool[0]]


@pytest.mark.parametrize("a,b,match", [
    (HyperLogLog(6), HyperLogLog(7), "precision mismatch"),
    # equal lengths: only the shape in the prefix tells these apart
    (BloomFilter(Shape(m=256, k=3)), BloomFilter(Shape(m=256, k=4)),
     "shape mismatch"),
], ids=["hll_p", "bloom_k"])
def test_mismatched_prefixes_in_one_run_raise(a, b, match):
    rng = np.random.default_rng(1)
    a.add_hashes(_hashes(rng))
    b.add_hashes(_hashes(rng))
    blobs = [a.to_bytes(), a.to_bytes(), b.to_bytes()]
    with pytest.raises(ValueError, match=match):
        _reference(blobs)
    with pytest.raises(ValueError, match=match):
        base.merge_blob_runs(blobs, [0])
    # each prefix in its own run merges as before
    _check(blobs, [0, 2])


def test_dense_with_sparse_bloom_in_one_run():
    rng = np.random.default_rng(2)
    dense = [FACTORIES[base.KIND_BLOOM](rng).to_bytes() for _ in range(3)]
    sparse = [FACTORIES[base.KIND_BLOOM_SPARSE](rng).to_bytes()
              for _ in range(3)]
    for blobs in ([*dense, *sparse], [*sparse, *dense],
                  [dense[0], sparse[0], dense[1], sparse[1]]):
        _check(blobs, [0])
        _check(blobs, [0, 1, 3])
