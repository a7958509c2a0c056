"""Bloom-family filter contract tests, modeled on the reference's inherited
commons-collections4 contract suites and StableBloomFilterTest2 goldens
(/root/reference/src/test/java/org/xenei/bloomfilter/stable/)."""

import struct

import numpy as np
import pytest

from sparksketch.shape import Shape, StableShape
from sparksketch.sketches import (BloomFilter, CountingBloomFilter,
                                  LayeredBloomFilter, SparseBloomFilter,
                                  StableBloomFilter, merge_bytes,
                                  sketch_from_bytes)
from sparksketch.sketches import setops
from sparksketch.hashing import incrementing_indices

SHAPE = Shape.from_np(17, 0.01)  # m=163, k=7 — the reference test shape
SSHAPE = StableShape.builder(SHAPE).build()


def from1(k=SHAPE.k, m=SHAPE.m):
    return incrementing_indices(1, 1, k, m)


def from11(k=SHAPE.k, m=SHAPE.m):
    return incrementing_indices(11, 1, k, m)


class TestBloom:
    def test_empty(self):
        bf = BloomFilter(SHAPE)
        assert bf.cardinality() == 0
        assert bf.estimate_n() == 0
        assert not bf.is_full()

    def test_merge_and_contains(self):
        bf = BloomFilter(SHAPE)
        bf.set_indices(from1())
        assert bf.cardinality() == 7
        assert bf.contains_indices(from1())
        assert not bf.contains_indices(from11())
        assert round(bf.estimate_n()) == 1

    def test_merge_or_semantics(self):
        a = BloomFilter(SHAPE)
        a.set_indices(from1())
        b = BloomFilter(SHAPE)
        b.set_indices(from11())
        a.merge(b)
        assert a.contains_indices(from1())
        assert a.contains_indices(from11())
        # union of two disjoint 7-sets: 1..7 and 11..17 share nothing
        assert a.cardinality() == 14

    def test_out_of_range_raises(self):
        bf = BloomFilter(SHAPE)
        with pytest.raises(ValueError):
            bf.set_indices(np.array([SHAPE.m]))
        with pytest.raises(ValueError):
            bf.set_indices(np.array([-1]))

    def test_index_array_distinct_ordered(self):
        bf = BloomFilter(SHAPE)
        bf.set_indices(np.array([5, 3, 5, 160]))
        assert bf.as_index_array().tolist() == [3, 5, 160]

    def test_codec_roundtrip_and_merge_bytes(self):
        a = BloomFilter(SHAPE)
        a.set_indices(from1())
        b = BloomFilter(SHAPE)
        b.set_indices(from11())
        ab = sketch_from_bytes(merge_bytes(a.to_bytes(), b.to_bytes()))
        ba = sketch_from_bytes(merge_bytes(b.to_bytes(), a.to_bytes()))
        assert ab.to_bytes() == ba.to_bytes()
        assert ab.cardinality() == 14
        assert merge_bytes(None, a.to_bytes()) == a.to_bytes()

    def test_hash_path_membership(self):
        rng = np.random.default_rng(42)
        shape = Shape.from_np(1000, 0.001)
        bf = BloomFilter(shape)
        h1 = rng.integers(-(2**63), 2**63, 500, dtype=np.int64)
        h2 = rng.integers(-(2**63), 2**63, 500, dtype=np.int64)
        bf.add_hashes(h1, h2)
        assert bf.contains_hashes(h1, h2).all()
        o1 = rng.integers(-(2**63), 2**63, 5000, dtype=np.int64)
        o2 = rng.integers(-(2**63), 2**63, 5000, dtype=np.int64)
        fpr = bf.contains_hashes(o1, o2).mean()
        assert fpr <= 1.2 * shape.fp(500) + 3e-3


class TestSparse:
    def test_equivalence_with_dense(self):
        sp = SparseBloomFilter(SHAPE)
        sp.set_indices(from1())
        dense = sp.to_dense()
        assert dense.as_index_array().tolist() == sp.indices.tolist()
        assert sp.cardinality() == 7
        assert sp.contains_indices(from1())

    def test_cross_merge(self):
        sp = SparseBloomFilter(SHAPE)
        sp.set_indices(from1())
        d = BloomFilter(SHAPE)
        d.set_indices(from11())
        sp.merge(d)
        assert sp.cardinality() == 14
        rt = sketch_from_bytes(sp.to_bytes())
        assert rt.indices.tolist() == sp.indices.tolist()


class TestCounting:
    def test_add_subtract(self):
        shape = Shape.from_np(100, 0.01)
        cf = CountingBloomFilter(shape)
        rng = np.random.default_rng(1)
        h1 = rng.integers(-(2**63), 2**63, 50, dtype=np.int64)
        h2 = rng.integers(-(2**63), 2**63, 50, dtype=np.int64)
        cf.add_hashes(h1, h2)
        assert cf.contains_hashes(h1, h2).all()
        assert cf.valid
        cf.subtract_hashes(h1, h2)
        assert cf.cardinality() == 0
        assert cf.valid
        cf.subtract_hashes(h1[:1], h2[:1])
        assert not cf.valid  # underflow detected

    def test_merge_is_sum(self):
        shape = Shape.from_np(100, 0.01)
        a = CountingBloomFilter(shape)
        b = CountingBloomFilter(shape)
        h1 = np.array([1, 2, 3], dtype=np.int64)
        h2 = np.array([9, 8, 7], dtype=np.int64)
        a.add_hashes(h1, h2)
        b.add_hashes(h1, h2)
        a.merge(b)
        c = CountingBloomFilter(shape)
        c.add_hashes(np.tile(h1, 2), np.tile(h2, 2))
        assert (a.cells == c.cells).all()
        rt = sketch_from_bytes(a.to_bytes())
        assert (rt.cells == a.cells).all() and rt.valid


class TestStable:
    def test_insert_contains(self):
        sbf = StableBloomFilter(SSHAPE, seed=42)
        sbf.insert_indices(from1())
        assert sbf.contains_indices(from1())
        assert sbf.cardinality() >= 1

    def test_decay(self):
        """Old items fall out of a stable filter (SIGMOD'06 property;
        reference StableTest.java harness)."""
        ss = StableShape.builder(Shape.from_np(50, 0.01)).build()
        sbf = StableBloomFilter(ss, seed=42)
        first = from1(ss.k, ss.m)
        sbf.insert_indices(first)
        rng = np.random.default_rng(0)
        h1 = rng.integers(-(2**63), 2**63, 5000, dtype=np.int64)
        h2 = rng.integers(-(2**63), 2**63, 5000, dtype=np.int64)
        sbf.insert_hashes(h1, h2)
        assert not sbf.contains_indices(first)  # decayed w.h.p.

    def test_cardinality_reaches_stable_point(self):
        ss = StableShape.builder(Shape.from_np(2000, 1e-3)).set_max(3).build()
        sbf = StableBloomFilter(ss, seed=42)
        rng = np.random.default_rng(42)
        n = 10_000  # reference StableTest.java:17 workload
        h1 = rng.integers(-(2**63), 2**63, n, dtype=np.int64)
        h2 = rng.integers(-(2**63), 2**63, n, dtype=np.int64)
        sbf.insert_hashes(h1, h2)
        frac_zero = 1 - sbf.cardinality() / ss.m
        assert abs(frac_zero - ss.stable_point) < 0.05

    def test_deterministic_replay(self):
        rng = np.random.default_rng(3)
        h1 = rng.integers(-(2**63), 2**63, 200, dtype=np.int64)
        h2 = rng.integers(-(2**63), 2**63, 200, dtype=np.int64)
        a = StableBloomFilter(SSHAPE, seed=11)
        b = StableBloomFilter(SSHAPE, seed=11)
        a.insert_hashes(h1, h2)
        b.insert_hashes(h1, h2)
        assert a.to_bytes() == b.to_bytes()
        c = StableBloomFilter(SSHAPE, seed=12)
        c.insert_hashes(h1, h2)
        assert c.to_bytes() != a.to_bytes()

    def test_flatten_and_roundtrip(self):
        sbf = StableBloomFilter(SSHAPE, seed=42)
        sbf.insert_indices(from1())
        flat = sbf.flatten()
        assert flat.contains_indices(from1())
        rt = sketch_from_bytes(sbf.to_bytes())
        assert (rt.cells == sbf.cells).all()
        assert rt.sshape == sbf.sshape

    def test_out_of_range(self):
        sbf = StableBloomFilter(SSHAPE)
        with pytest.raises(ValueError):
            sbf.insert_indices(np.array([SSHAPE.m]))


class TestLayered:
    def test_layers_and_find(self):
        lbf = LayeredBloomFilter(SHAPE)
        h1 = np.array([10, 20, 30], dtype=np.int64)
        h2 = np.array([1, 2, 3], dtype=np.int64)
        keys = np.array([0, 0, 5], dtype=np.int64)
        lbf.add_hashes(keys, h1, h2)
        assert lbf.contains_hashes(h1, h2).all()
        finds = lbf.find_hashes(h1, h2)
        assert finds[0] == [0] and finds[2] == [5]
        lbf.evict_below(5)
        assert lbf.contains_hashes(h1, h2).tolist() == [False, False, True]

    def test_merge_union_by_key_byte_identical(self):
        h1 = np.arange(6, dtype=np.int64) * 31 + 7
        h2 = np.arange(6, dtype=np.int64) * 17 + 3
        keys = np.array([0, 1, 2, 0, 1, 2], dtype=np.int64)
        whole = LayeredBloomFilter(SHAPE)
        whole.add_hashes(keys, h1, h2)
        a = LayeredBloomFilter(SHAPE)
        a.add_hashes(keys[:3], h1[:3], h2[:3])
        b = LayeredBloomFilter(SHAPE)
        b.add_hashes(keys[3:], h1[3:], h2[3:])
        a.merge(b)
        assert a.to_bytes() == whole.to_bytes()
        b2 = sketch_from_bytes(b.to_bytes())
        c = LayeredBloomFilter(SHAPE)
        c.add_hashes(keys[:3], h1[:3], h2[:3])
        b2.merge(c)
        assert b2.to_bytes() == whole.to_bytes()  # commutes


class TestSetOps:
    def test_reference_goldens_union_intersection(self):
        """estimateUnion/estimateIntersection goldens
        (StableBloomFilterTest2.java:69-113)."""
        a = BloomFilter(SHAPE)
        a.set_indices(from1())
        b = BloomFilter(SHAPE)
        b.set_indices(from11())
        assert setops.estimate_union(a, b) == 2
        empty = BloomFilter(SHAPE)
        assert setops.estimate_union(a, empty) == 1
        assert setops.estimate_intersection(a, a) == 1
        assert setops.estimate_intersection(a, empty) == 0
        # full filter -> infinite estimate -> MAX_VALUE
        full = BloomFilter(SHAPE)
        full.set_indices(np.arange(SHAPE.m))
        assert setops.estimate_intersection(full, full) == 2**31 - 1
        # intersection with overlapping sets
        c = BloomFilter(SHAPE)
        c.set_indices(incrementing_indices(5, 1, 7, SHAPE.m))  # 5..11 overlaps 1..7
        est = setops.estimate_intersection(a, c)
        assert 0 <= est <= 2

    def test_similarity_values(self):
        a = BloomFilter(SHAPE)
        a.set_indices(np.array([1, 2, 3, 4]))
        b = BloomFilter(SHAPE)
        b.set_indices(np.array([3, 4, 5, 6]))
        assert setops.hamming_distance(a, b) == 4
        assert setops.jaccard_similarity(a, b) == pytest.approx(2 / 6)
        assert setops.cosine_similarity(a, b) == pytest.approx(2 / 4)
        assert setops.cosine_similarity(a, BloomFilter(SHAPE)) == 0.0
        assert setops.jaccard_similarity(BloomFilter(SHAPE), BloomFilter(SHAPE)) == 0.0


class TestFillLayered:
    """Fill-policy (advance-on-saturation) layered filter — the commons
    LayerManager contract: the active layer rolls when its estimate_n
    crosses target_n, checked BEFORE each insert; duplicates within the
    active layer never advance it."""

    SHAPE = Shape.from_np(1000, 1e-9)

    @staticmethod
    def _hashes(n, seed=7):
        rng = np.random.default_rng(seed)
        return (rng.integers(-2**63, 2**63, n, dtype=np.int64),
                rng.integers(-2**63, 2**63, n, dtype=np.int64))

    def _ref_per_item(self, target, h1, h2, max_layers=0):
        """Per-item reference replay: predicate -> insert, one item at a
        time (the commons extendCheck-then-merge loop made literal)."""
        from sparksketch.sketches import FillLayeredBloomFilter
        sk = FillLayeredBloomFilter(self.SHAPE, target,
                                    max_layers=max_layers)
        for a, b in zip(h1, h2):
            sk.insert_hashes(np.array([a]), np.array([b]))
        return sk

    def test_vectorized_matches_per_item_reference(self):
        from sparksketch.sketches import FillLayeredBloomFilter
        h1, h2 = self._hashes(100)
        batch = FillLayeredBloomFilter(self.SHAPE, target_n=7)
        batch.insert_hashes(h1, h2)
        ref = self._ref_per_item(7, h1, h2)
        assert sorted(batch.layers) == sorted(ref.layers)
        for k in batch.layers:
            assert np.array_equal(batch.layers[k], ref.layers[k])

    def test_batch_split_invariance(self):
        from sparksketch.sketches import FillLayeredBloomFilter
        h1, h2 = self._hashes(90, seed=3)
        one = FillLayeredBloomFilter(self.SHAPE, target_n=10)
        one.insert_hashes(h1, h2)
        two = FillLayeredBloomFilter(self.SHAPE, target_n=10)
        two.insert_hashes(h1[:33], h2[:33])
        two.insert_hashes(h1[33:], h2[33:])
        assert sorted(one.layers) == sorted(two.layers)
        for k in one.layers:
            assert np.array_equal(one.layers[k], two.layers[k])

    def test_duplicates_do_not_advance(self):
        from sparksketch.sketches import FillLayeredBloomFilter
        h1, h2 = self._hashes(1)
        sk = FillLayeredBloomFilter(self.SHAPE, target_n=3)
        for _ in range(50):
            sk.insert_hashes(h1, h2)
        assert sk.n_layers == 1

    def test_saturation_invariant_and_find(self):
        from sparksketch.sketches import FillLayeredBloomFilter
        h1, h2 = self._hashes(100, seed=11)
        target = 8
        sk = FillLayeredBloomFilter(self.SHAPE, target_n=target)
        sk.insert_hashes(h1, h2)
        assert sk.n_layers > 1  # bursty stream actually rolled layers
        keys = sorted(sk.layers)
        for k in keys[:-1]:  # every non-final layer is saturated-to-bound
            est = self.SHAPE.estimate_n(
                int(np.sum([bin(int(w)).count("1")
                            for w in sk.layers[k]])))
            assert target <= est <= target + 2
        # zero false negatives across layers; find returns ordinals
        assert sk.contains_hashes(h1, h2).all()
        hits = sk.find_hashes(h1, h2)
        assert all(len(h) >= 1 for h in hits)
        # insertion order maps to non-decreasing first-hit ordinals
        firsts = [min(h) for h in hits]
        assert firsts == sorted(firsts)

    def test_max_layers_eviction(self):
        from sparksketch.sketches import FillLayeredBloomFilter
        h1, h2 = self._hashes(60, seed=5)
        sk = FillLayeredBloomFilter(self.SHAPE, target_n=5, max_layers=2)
        sk.insert_hashes(h1, h2)
        assert sk.n_layers == 2
        keys = sorted(sk.layers)
        assert keys == [sk._active - 1, sk._active]  # newest two kept


class TestCountingUniqueIndices:
    """Golden pin of commons `Hasher.uniqueIndices` semantics for counting
    cells: duplicate indices WITHIN one item increment a cell once; across
    items they accumulate.  Mirrors the reference's duplicate-bearing
    hasher tests (ArrayHasher, StableBloomFilterTest2.java:88-91, 208-269)
    applied to the CountingBloomFilter contract."""

    def test_array_hasher_duplicates_count_once(self):
        from sparksketch.hashing import array_indices
        cbf = CountingBloomFilter(SHAPE)
        item = array_indices([5, 3, 5, 160], SHAPE.m)  # dup index 5
        cbf.add_index_rows([item])
        assert cbf.cells[5] == 1 and cbf.cells[3] == 1 and cbf.cells[160] == 1
        assert cbf.cardinality() == 3
        cbf.add_index_rows([item])  # same item again: cells accumulate
        assert cbf.cells[5] == 2
        cbf.subtract_index_rows([item])
        assert cbf.cells[5] == 1 and cbf.valid
        cbf.subtract_index_rows([item])
        assert cbf.cardinality() == 0 and cbf.valid
        cbf.subtract_index_rows([item])  # underflow -> invalid
        assert not cbf.valid

    def test_randomized_add_subtract_roundtrip(self):
        # 5 random duplicate-bearing index arrays (the reference's
        # generateIntArray loops), add all then subtract all -> zero cells
        rng = np.random.default_rng(9)
        items = [rng.integers(0, SHAPE.m, size=SHAPE.k)  # dups likely
                 for _ in range(5)]
        cbf = CountingBloomFilter(SHAPE)
        cbf.add_index_rows(items)
        # nonzero cells == union of per-item unique indices
        expect = np.zeros(SHAPE.m, dtype=np.int64)
        for it in items:
            expect[np.unique(it)] += 1
        assert np.array_equal(cbf.cells, expect)
        cbf.subtract_index_rows(items)
        assert cbf.cardinality() == 0 and cbf.valid

    def test_edh_self_collision_dedup_matches_reference(self):
        """The EDH hash path must apply the same per-item dedup: with m
        tiny (k=7 into m=10) every row self-collides, and cell counts must
        equal the per-row-unique reference, never k per item."""
        from sparksketch.hashing import edh_indices
        shape = Shape.from_km(7, 10)
        cbf = CountingBloomFilter(shape)
        rng = np.random.default_rng(3)
        h1 = rng.integers(-2**63, 2**63, 50, dtype=np.int64)
        h2 = rng.integers(-2**63, 2**63, 50, dtype=np.int64)
        cbf.add_hashes(h1, h2)
        idx = edh_indices(h1, h2, shape.k, shape.m)
        expect = np.zeros(shape.m, dtype=np.int64)
        for row in idx:
            expect[np.unique(row)] += 1
        assert np.array_equal(cbf.cells, expect)
        assert cbf.cells.max() < 50 * shape.k  # dedup actually happened
        cbf.subtract_hashes(h1, h2)
        assert cbf.cardinality() == 0 and cbf.valid

    def test_out_of_range_rejected(self):
        cbf = CountingBloomFilter(SHAPE)
        with pytest.raises(ValueError):
            cbf.add_index_rows([np.array([SHAPE.m])])
        with pytest.raises(ValueError):
            cbf.add_index_rows([np.array([-1])])


class TestWireVersionGate:
    def test_v2_roundtrip(self):
        from sparksketch.shape import Shape
        from sparksketch.sketches import BloomFilter, sketch_from_bytes
        bf = BloomFilter(Shape.from_np(100, 1e-6))
        bf.add_hashes(np.arange(10, dtype=np.int64))
        got = sketch_from_bytes(bf.to_bytes())
        assert got.to_bytes() == bf.to_bytes()

    def test_header_records_scheme(self):
        from sparksketch.sketches.base import (HASH_SCHEME_SPLITMIX_REMIX,
                                               VERSION, pack_header)
        hdr = pack_header(1)
        magic, ver, kind, flags = struct.unpack("<4sBBH", hdr)
        assert magic == b"SKS1" and ver == VERSION == 2
        assert flags & 0xFF == HASH_SCHEME_SPLITMIX_REMIX

    def test_v1_blob_rejected_loudly(self):
        """A round-3-era blob (version 1, flags 0) decoded fine but
        probed with the wrong EDH sequence — it must now fail loudly."""
        from sparksketch.shape import Shape
        from sparksketch.sketches import BloomFilter, sketch_from_bytes
        bf = BloomFilter(Shape.from_np(100, 1e-6))
        blob = bytearray(bf.to_bytes())
        blob[4] = 1  # version byte
        blob[6:8] = b"\x00\x00"  # flags
        with pytest.raises(ValueError, match="wire-version 1.*Re-build"):
            sketch_from_bytes(bytes(blob))

    def test_unknown_scheme_rejected(self):
        from sparksketch.shape import Shape
        from sparksketch.sketches import BloomFilter, sketch_from_bytes
        bf = BloomFilter(Shape.from_np(100, 1e-6))
        blob = bytearray(bf.to_bytes())
        blob[6] = 99  # flags low byte = bogus scheme id
        with pytest.raises(ValueError, match="probe-hash scheme"):
            sketch_from_bytes(bytes(blob))
