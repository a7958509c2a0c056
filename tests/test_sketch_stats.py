"""Statistical accuracy tests for the extension sketches: each estimate must
sit inside its published error bound (BASELINE.md Table A)."""

import numpy as np
import pytest

from sparksketch.sketches import (BottomKSketch, CountMinSketch, HyperLogLog,
                                  KLLSketch, MinHashSketch, TDigest,
                                  merge_bytes, sketch_from_bytes)


def _hashes(n, seed=42):
    rng = np.random.default_rng(seed)
    return rng.integers(-(2**63), 2**63, n, dtype=np.int64)


class TestHLL:
    @pytest.mark.parametrize("true_n", [100, 1000, 100_000])
    def test_estimate_within_3sigma(self, true_n):
        hll = HyperLogLog(p=12)
        hll.add_hashes(_hashes(true_n))
        err = abs(hll.estimate() - true_n) / true_n
        assert err <= 3 * hll.rel_std_error()

    def test_duplicates_dont_count(self):
        hll = HyperLogLog(p=12)
        h = _hashes(1000)
        hll.add_hashes(np.tile(h, 10))
        assert abs(hll.estimate() - 1000) / 1000 <= 3 * hll.rel_std_error()

    def test_merge_byte_identical_any_order(self):
        h = _hashes(10_000)
        parts = np.array_split(h, 4)
        whole = HyperLogLog(p=10)
        whole.add_hashes(h)
        sketches = []
        for part in parts:
            s = HyperLogLog(p=10)
            s.add_hashes(part)
            sketches.append(s.to_bytes())
        import functools
        fwd = functools.reduce(merge_bytes, sketches)
        rev = functools.reduce(merge_bytes, sketches[::-1])
        assert fwd == rev == whole.to_bytes()

    def test_roundtrip(self):
        hll = HyperLogLog(p=8)
        hll.add_hashes(_hashes(100))
        rt = sketch_from_bytes(hll.to_bytes())
        assert rt.estimate() == hll.estimate()


class TestCMS:
    def test_exact_regime_and_bound(self):
        # zipf-ish frequencies
        rng = np.random.default_rng(42)
        keys = rng.zipf(1.5, 20_000) % 500
        h1 = _hashes(500, 1)[keys]
        h2 = _hashes(500, 2)[keys]
        cms = CountMinSketch.from_eps_delta(eps=0.005, delta=0.01)
        cms.add_hashes(h1, h2)
        true = np.bincount(keys, minlength=500)
        uk = np.arange(500)
        est = cms.query_hashes(_hashes(500, 1)[uk], _hashes(500, 2)[uk])
        assert (est >= true).all()  # one-sided overestimate
        assert (est - true <= 0.005 * len(keys)).all()

    def test_merge_sum_byte_identical(self):
        h1, h2 = _hashes(1000, 1), _hashes(1000, 2)
        a = CountMinSketch(1024, 4)
        a.add_hashes(h1[:500], h2[:500])
        b = CountMinSketch(1024, 4)
        b.add_hashes(h1[500:], h2[500:])
        whole = CountMinSketch(1024, 4)
        whole.add_hashes(h1, h2)
        assert merge_bytes(a.to_bytes(), b.to_bytes()) == whole.to_bytes()
        assert merge_bytes(b.to_bytes(), a.to_bytes()) == whole.to_bytes()

    def test_weighted_counts_and_total(self):
        cms = CountMinSketch(64, 3)
        cms.add_hashes(np.array([1]), np.array([2]), counts=np.array([41]))
        assert cms.total() == 41
        assert cms.query_hashes(np.array([1]), np.array([2]))[0] >= 41


class TestKLL:
    def test_exact_regime_matches_interpolation(self):
        vals = np.random.default_rng(42).normal(size=150)
        kll = KLLSketch(k=200)
        kll.add_values(vals)
        for q in (0.0, 0.25, 0.5, 0.9, 1.0):
            assert kll.quantile(q) == pytest.approx(np.quantile(vals, q), abs=1e-12)

    def test_rank_error_bound(self):
        n = 200_000
        vals = np.random.default_rng(42).normal(size=n)
        kll = KLLSketch(k=200)
        for chunk in np.array_split(vals, 100):
            kll.add_values(chunk)
        assert kll.n == n
        eps = 0.025  # ~ 5/k conservative for k=200
        for q in (0.01, 0.25, 0.5, 0.75, 0.99):
            est = kll.quantile(q)
            true_rank = (vals <= est).mean()
            assert abs(true_rank - q) <= eps

    def test_merge_and_roundtrip_determinism(self):
        vals = np.random.default_rng(1).normal(size=50_000)
        a = KLLSketch(k=160)
        a.add_values(vals[:25_000])
        b = KLLSketch(k=160)
        b.add_values(vals[25_000:])
        m1 = merge_bytes(a.to_bytes(), b.to_bytes())
        m2 = merge_bytes(a.to_bytes(), b.to_bytes())
        assert m1 == m2  # run-to-run deterministic
        merged = sketch_from_bytes(m1)
        assert merged.n == 50_000
        assert abs((vals <= merged.quantile(0.5)).mean() - 0.5) < 0.05

    def test_min_max_exact(self):
        vals = np.random.default_rng(2).normal(size=10_000)
        kll = KLLSketch(k=64)
        kll.add_values(vals)
        assert kll.min_v == vals.min()
        assert kll.max_v == vals.max()


class TestTDigest:
    def test_quantile_accuracy(self):
        vals = np.random.default_rng(42).normal(size=100_000)
        td = TDigest(compression=100)
        for chunk in np.array_split(vals, 50):
            td.add_values(chunk)
        for q in (0.01, 0.1, 0.5, 0.9, 0.99):
            est = td.quantile(q)
            true_rank = (vals <= est).mean()
            tol = max(0.005, 4 * q * (1 - q) / 100)
            assert abs(true_rank - q) <= tol, q

    def test_bounded_size_and_merge(self):
        vals = np.random.default_rng(0).normal(size=200_000)
        a = TDigest(compression=100)
        a.add_values(vals[:100_000])
        b = TDigest(compression=100)
        b.add_values(vals[100_000:])
        a.merge(b)
        assert a.means.size < 300  # ~compression centroids
        assert a.n == 200_000
        rt = sketch_from_bytes(a.to_bytes())
        assert rt.quantile(0.5) == a.quantile(0.5)


class TestBottomK:
    def test_distinct_exact_below_k(self):
        s = BottomKSketch(k=256)
        s.add_hashes(_hashes(100))
        assert s.distinct_estimate() == 100

    def test_distinct_estimate_bound(self):
        s = BottomKSketch(k=1024)
        s.add_hashes(_hashes(500_000))
        err = abs(s.distinct_estimate() - 500_000) / 500_000
        assert err < 5 / np.sqrt(1024)

    def test_merge_byte_identical_any_partitioning(self):
        h = _hashes(10_000)
        v = np.random.default_rng(1).normal(size=10_000)
        whole = BottomKSketch(k=128)
        whole.add_hashes(h, v)
        import functools
        for n_parts in (2, 4, 8):
            parts = []
            for hs, vs in zip(np.array_split(h, n_parts), np.array_split(v, n_parts)):
                s = BottomKSketch(k=128)
                s.add_hashes(hs, vs)
                parts.append(s.to_bytes())
            assert functools.reduce(merge_bytes, parts) == whole.to_bytes()
            assert functools.reduce(merge_bytes, parts[::-1]) == whole.to_bytes()

    def test_sample_quantile(self):
        v = np.random.default_rng(3).normal(size=100_000)
        s = BottomKSketch(k=4096)
        s.add_hashes(_hashes(100_000), v)
        assert abs((v <= s.quantile(0.5)).mean() - 0.5) < 0.05


class TestMinHash:
    def test_jaccard_estimate(self):
        a_items = _hashes(2000, 1)
        b_items = np.concatenate([a_items[:1000], _hashes(1000, 2)])
        a = MinHashSketch(n_perm=256)
        a.add_hashes(a_items)
        b = MinHashSketch(n_perm=256)
        b.add_hashes(b_items)
        true_j = 1000 / 3000
        assert a.jaccard(b) == pytest.approx(true_j, abs=3 / np.sqrt(256))

    def test_merge_min_byte_identical(self):
        h = _hashes(5000)
        whole = MinHashSketch(n_perm=64)
        whole.add_hashes(h)
        a = MinHashSketch(n_perm=64)
        a.add_hashes(h[:2500])
        b = MinHashSketch(n_perm=64)
        b.add_hashes(h[2500:])
        assert merge_bytes(a.to_bytes(), b.to_bytes()) == whole.to_bytes()
        assert merge_bytes(b.to_bytes(), a.to_bytes()) == whole.to_bytes()


class TestBottomKSetOps:
    """union/intersect/difference distinct estimators (Beyer et al. 2007):
    exact when kept sets are complete, bounded error in the sampled
    regime."""

    @staticmethod
    def _pair(k, n_a=5000, n_b=4000, n_shared=2500, seed=7):
        import numpy as np
        from sparksketch.sketches import BottomKSketch
        rng = np.random.default_rng(seed)
        # uniform 64-bit "hashes" stand in for xxhash64 output; oversample
        # then unique-slice into disjoint shared/only-a/only-b pools
        need = n_a + n_b - n_shared
        # FULL uint64 range (KMV normalizes h_k by 2^64 — a half-range
        # pool would bias the estimator 2x), viewed as the int64 the
        # xxhash64 column carries
        pool = np.unique(rng.integers(0, 2**64, size=2 * need,
                                      dtype=np.uint64)).view(np.int64)
        pool = rng.permutation(pool)[:need]
        assert pool.size == need
        shared = pool[:n_shared]
        only_a = pool[n_shared:n_a]
        only_b = pool[n_a:]
        a, b = BottomKSketch(k), BottomKSketch(k)
        a.add_hashes(np.r_[shared, only_a])
        b.add_hashes(np.r_[shared, only_b])
        return a, b

    def test_exact_regime(self):
        a, b = self._pair(k=1 << 14)
        assert round(a.union_distinct(b)) == 6500
        assert round(a.intersect_distinct(b)) == 2500
        assert round(a.difference_distinct(b)) == 2500
        assert round(b.difference_distinct(a)) == 1500

    def test_approximate_regime_bounds(self):
        a, b = self._pair(k=512)
        # 4-sigma-ish: union rel err ~ 1/sqrt(k-2); intersection adds the
        # jaccard sampling term sqrt(J(1-J)/k) * U
        assert abs(a.union_distinct(b) - 6500) <= 4 * 6500 / (510 ** 0.5)
        j = 2500 / 6500
        tol = 4 * ((j * (1 - j) / 512) ** 0.5 * 6500 + j * 6500 / 510 ** 0.5)
        assert abs(a.intersect_distinct(b) - 2500) <= tol

    def test_k_mismatch_raises(self):
        import pytest as _pytest
        from sparksketch.sketches import BottomKSketch
        with _pytest.raises(ValueError):
            BottomKSketch(8).union_distinct(BottomKSketch(16))


class TestCmsSparseLayout:
    """Round-5 ship-volume fix: a CMS partial over a low-cardinality key is
    ~all zeros; the dense 512 KB layout dominated the build job's
    partial-blob ship (the measured non-scaling tail of the N->4N bench,
    xp_tail2 in BENCH.md "Retired diagnostic scripts").  to_bytes now
    auto-selects a sparse (index, count) layout when it is at most half
    the dense size; layout is a pure function of table content so
    canonical byte-identity is preserved."""

    def _cms(self, w=1 << 14, d=4):
        from sparksketch.sketches import CountMinSketch
        return CountMinSketch(w, d)

    def test_sparse_chosen_for_low_cardinality(self):
        cms = self._cms()
        cms.add_hashes(np.arange(13, dtype=np.int64))
        blob = cms.to_bytes()
        assert len(blob) < 2048  # dense body would be 512 KB

    def test_dense_chosen_when_full(self):
        cms = self._cms(w=64, d=2)
        cms.add_hashes(np.arange(500, dtype=np.int64))
        blob = cms.to_bytes()
        assert len(blob) >= 64 * 2 * 8

    def test_roundtrip_both_layouts(self):
        from sparksketch.sketches import sketch_from_bytes
        dense_body = 256 * 3 * 8
        for n, sparse in ((5, True), (2000, False)):
            cms = self._cms(w=256, d=3)
            # n distinct keys: multiply in uint64 so the product wraps
            h = (np.arange(n, dtype=np.uint64)
                 * np.uint64(0x9E3779B97F4A7C15)).view(np.int64)
            cms.add_hashes(h)
            blob = cms.to_bytes()
            if sparse:
                assert len(blob) <= dense_body // 2
            else:
                assert len(blob) >= dense_body
            rt = sketch_from_bytes(blob)
            assert np.array_equal(rt.table, cms.table)
            assert rt.to_bytes() == blob

    def test_mixed_layout_merge_matches_whole(self):
        from sparksketch.sketches.base import merge_bytes
        sparse = self._cms()
        dense = self._cms()
        whole = self._cms()
        hs = np.arange(4, dtype=np.int64)          # sparse partial
        hd = np.arange(40000, dtype=np.int64) * 7  # dense partial
        sparse.add_hashes(hs)
        dense.add_hashes(hd)
        whole.add_hashes(hs)
        whole.add_hashes(hd)
        m1 = merge_bytes(sparse.to_bytes(), dense.to_bytes())
        m2 = merge_bytes(dense.to_bytes(), sparse.to_bytes())
        assert m1 == m2 == whole.to_bytes()

    def test_point_queries_survive_roundtrip(self):
        from sparksketch.sketches import sketch_from_bytes
        cms = self._cms()
        h = np.repeat(np.arange(13, dtype=np.int64), [i + 1 for i in range(13)])
        cms.add_hashes(h)
        rt = sketch_from_bytes(cms.to_bytes())
        q = np.arange(13, dtype=np.int64)
        assert np.array_equal(rt.query_hashes(q), cms.query_hashes(q))

    def test_pre_layout_blob_rejected_loudly(self):
        import struct as _s
        from sparksketch.sketches import sketch_from_bytes
        from sparksketch.sketches.base import pack_header
        w, d = 64, 2
        blob = (pack_header(7) + _s.pack("<QI", w, d)
                + b"\x00" * (w * d * 8))  # old body: no layout byte
        with pytest.raises(ValueError, match="layout byte"):
            sketch_from_bytes(blob)
