"""Enhanced-double-hashing kernel tests.

The closed form idx_i = unsigned_mod(h1 - i*h2 + (i^3-i)/6, m) must match a
direct simulation of the reference recurrence
(index -= increment; increment -= count++ — FastPseudoRandomInt.java:38-47)
under Java-long wrap-around."""

import numpy as np
import pytest

from sparksketch.hashing import (DecrementPRNG, array_indices, edh_indices,
                                 hash_bytes64, incrementing_indices, splitmix64)

MASK = (1 << 64) - 1


def _wrap(x: int) -> int:
    x &= MASK
    return x - (1 << 64) if x >= (1 << 63) else x


def _simulate(h1: int, h2: int, k: int, m: int) -> list[int]:
    index, increment, count = h1, h2, 1
    out = []
    for _ in range(k):
        out.append((index & MASK) % m)
        index = _wrap(index - increment)
        increment = _wrap(increment - count)
        count += 1
    return out


def test_edh_matches_reference_recurrence():
    rng = np.random.default_rng(42)
    h1 = rng.integers(-(2 ** 63), 2 ** 63, size=50, dtype=np.int64)
    h2 = rng.integers(-(2 ** 63), 2 ** 63, size=50, dtype=np.int64)
    for m in (17, 163, 1 << 20):
        k = 7
        got = edh_indices(h1, h2, k, m)
        for r in range(50):
            assert got[r].tolist() == _simulate(int(h1[r]), int(h2[r]), k, m)


def test_edh_range_and_shape():
    idx = edh_indices(np.array([123]), np.array([456]), 5, 17)
    assert idx.shape == (1, 5)
    assert (idx >= 0).all() and (idx < 17).all()


def test_decrement_prng_block_matches_sequential():
    """Block draw must equal drawing one at a time (stream continuity)."""
    a = DecrementPRNG(7)
    b = DecrementPRNG(7)
    block = a.next_block(100, 163)
    singles = np.concatenate([b.next_block(1, 163) for _ in range(100)])
    assert (block == singles).all()
    # continuation: state advanced identically
    assert (a.next_block(5, 163) == b.next_block(5, 163)).all()


def test_decrement_prng_deterministic_and_seed_sensitive():
    assert (DecrementPRNG(1).next_block(50, 97)
            == DecrementPRNG(1).next_block(50, 97)).all()
    assert not (DecrementPRNG(1).next_block(50, 97)
                == DecrementPRNG(2).next_block(50, 97)).all()


def test_prng_distribution_rough_uniformity():
    draws = DecrementPRNG(42).next_block(100_000, 64)
    counts = np.bincount(draws, minlength=64)
    assert counts.min() > 100_000 / 64 * 0.8
    assert counts.max() < 100_000 / 64 * 1.2


def test_fixture_hashers():
    # IncrementingHasher FROM1 = (1,1): indices 1..k mod m
    assert incrementing_indices(1, 1, 5, 17).tolist() == [1, 2, 3, 4, 5]
    assert incrementing_indices(11, 1, 7, 17).tolist() == [11, 12, 13, 14, 15, 16, 0]
    assert array_indices([1, 1, 19], 17).tolist() == [1, 1, 2]


def test_splitmix_and_bytes_hash_deterministic():
    assert int(splitmix64(1)) == int(splitmix64(1))
    assert hash_bytes64(b"abc") == hash_bytes64(b"abc")
    assert hash_bytes64(b"abc") != hash_bytes64(b"abd")
    assert hash_bytes64(b"abc", seed=1) != hash_bytes64(b"abc", seed=2)


def test_derive_h2_convention():
    """h2=None in any sketch/EDH API means derive_h2(h1) — the wire
    contract that lets the Spark layer ship ONE hash column across the
    Arrow boundary while build and probe stay consistent."""
    from sparksketch.hashing import derive_h2, edh_indices
    h1 = np.array([0, 1, -1, 2**63 - 1, -2**63, 42], dtype=np.int64)
    d = derive_h2(h1)
    assert d.dtype == np.int64
    assert np.array_equal(d, derive_h2(h1))          # deterministic
    assert np.array_equal(edh_indices(h1, None, 5, 97),
                          edh_indices(h1, d, 5, 97))  # None == derived
    # full-width remix, not a bit split: flipping one h1 bit flips ~half
    flipped = derive_h2(h1 ^ np.int64(1))
    ham = np.unpackbits((d ^ flipped).view(np.uint8)).sum() / d.size
    assert 20 <= ham <= 44  # ~32 of 64 bits


def test_sketch_apis_accept_omitted_h2():
    """Build with explicit derive_h2(h1) == build with h2 omitted, for
    every pair-taking sketch kind (byte-identical)."""
    from sparksketch.hashing import derive_h2
    from sparksketch.shape import Shape, StableShape
    from sparksketch.sketches import (BloomFilter, CountingBloomFilter,
                                      CountMinSketch, LayeredBloomFilter,
                                      StableBloomFilter)
    rng = np.random.default_rng(5)
    h1 = rng.integers(-2**63, 2**63, size=200, dtype=np.int64)
    h2 = derive_h2(h1)
    shape = Shape.from_np(500, 1e-6)
    for mk, add in [
        (lambda: BloomFilter(shape), lambda s: s.add_hashes),
        (lambda: CountingBloomFilter(shape), lambda s: s.add_hashes),
        (lambda: CountMinSketch(1 << 10, 4), lambda s: s.add_hashes),
    ]:
        a, b = mk(), mk()
        add(a)(h1, h2)
        add(b)(h1)
        assert a.to_bytes() == b.to_bytes(), type(a)
    keys = rng.integers(0, 4, size=200)
    a, b = LayeredBloomFilter(shape), LayeredBloomFilter(shape)
    a.add_hashes(keys, h1, h2)
    b.add_hashes(keys, h1)
    assert a.to_bytes() == b.to_bytes()
    ss = StableShape.builder(Shape.from_np(100, 1e-3)).set_max(3).build()
    a, b = StableBloomFilter(ss, seed=7), StableBloomFilter(ss, seed=7)
    a.insert_hashes(h1, h2)
    b.insert_hashes(h1)
    assert a.to_bytes() == b.to_bytes()
    assert np.array_equal(a.contains_hashes(h1), b.contains_hashes(h1, h2))


def test_float_hash_input_raises():
    """A float64 array is not a hash array: NaN and values past ±2^63 would
    cast to INT64_MIN, so every entry point that takes hashes refuses it
    rather than hashing a constant."""
    import pytest

    from sparksketch.hashing import combine_hashes, derive_h2
    from sparksketch.sketches import (BottomKSketch, CountMinSketch,
                                      HyperLogLog, MinHashSketch)
    from sparksketch.sketches.hll import bucket_rho
    ints = np.arange(4, dtype=np.int64)
    floats = ints * 1.5
    for call in (lambda: edh_indices(floats, None, 3, 97),
                 lambda: edh_indices(ints, floats, 3, 97),
                 lambda: derive_h2(floats),
                 lambda: combine_hashes(ints, floats),
                 lambda: bucket_rho(floats, 10),
                 lambda: HyperLogLog(10).add_hashes(floats),
                 lambda: CountMinSketch(64, 2).add_hashes(floats),
                 lambda: BottomKSketch(8).add_hashes(floats),
                 lambda: MinHashSketch(8).add_hashes(floats)):
        with pytest.raises(TypeError, match="must be integers"):
            call()
    # integer input of any width still passes, as int64
    assert np.array_equal(derive_h2(ints.astype(np.int32)), derive_h2(ints))


class TestCombineHashes:
    def test_identity_for_single_input(self):
        from sparksketch.hashing import combine_hashes
        h = np.array([1, -5, 2**62], dtype=np.int64)
        assert np.array_equal(combine_hashes(h), h)

    def test_not_commutative(self):
        from sparksketch.hashing import combine_hashes
        a = np.arange(100, dtype=np.int64)
        b = np.arange(100, dtype=np.int64) * 31 + 7
        assert not np.array_equal(combine_hashes(a, b),
                                  combine_hashes(b, a))

    def test_avalanche_on_one_bit(self):
        from sparksketch.hashing import combine_hashes
        a = np.zeros(64, dtype=np.int64)
        b = (np.int64(1) << np.arange(64)).astype(np.int64)
        out = combine_hashes(a, b)
        assert len(np.unique(out)) == 64
        # every output changes ~half its bits vs the all-zero input pair
        base = combine_hashes(np.zeros(1, np.int64), np.zeros(1, np.int64))
        flips = np.array([bin(int(np.uint64(x) ^ np.uint64(base[0]))).count("1")
                          for x in out.view(np.uint64)])
        assert flips.min() > 10

    def test_empty_raises(self):
        from sparksketch.hashing import combine_hashes
        with pytest.raises(ValueError):
            combine_hashes()
