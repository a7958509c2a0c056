"""Property-based tests (hypothesis): shape math invariants, codec
round-trips, and merge algebra over arbitrary inputs — no Spark session."""

import numpy as np
from hypothesis import given, settings, strategies as st

MAX_EX = 200


@settings(max_examples=MAX_EX, deadline=None)
@given(n=st.integers(1, 10_000_000), p=st.floats(1e-12, 0.4))
def test_shape_from_np_invariants(n, p):
    from sparksketch.shape import Shape
    s = Shape.from_np(n, p)
    assert s.m >= 1 and s.k >= 1
    # the realized fp at n inserts stays within 2x of the requested p
    assert s.fp(n) <= 2 * p
    # estimate_n inverts cardinality monotonically
    assert s.estimate_n(0) == 0.0
    if s.m > 2:
        assert s.estimate_n(s.m // 2) <= s.estimate_n(s.m - 1)


@settings(max_examples=MAX_EX, deadline=None)
@given(st.lists(st.integers(-2**63, 2**63 - 1), min_size=0, max_size=200),
       st.integers(0, 2**32))
def test_bloom_codec_roundtrip_and_merge_commutes(hs, seed):
    from sparksketch.shape import Shape
    from sparksketch.sketches import BloomFilter, sketch_from_bytes
    shape = Shape.from_np(500, 1e-4)
    rng = np.random.default_rng(seed)
    h = np.array(hs, dtype=np.int64)
    split = rng.integers(0, 2, size=h.size).astype(bool)
    a, b = BloomFilter(shape), BloomFilter(shape)
    h2 = np.array([int(x) ^ 0x9E37 for x in hs], dtype=np.int64)
    if h.size:
        a.add_hashes(h[split], h2[split])
        b.add_hashes(h[~split], h2[~split])
    ab = sketch_from_bytes(a.to_bytes())
    ab.merge(b)
    ba = sketch_from_bytes(b.to_bytes())
    ba.merge(a)
    # commutative and byte-identical; round-trip preserves bytes
    assert ab.to_bytes() == ba.to_bytes()
    whole = BloomFilter(shape)
    if h.size:
        whole.add_hashes(h, h2)
    assert whole.to_bytes() == ab.to_bytes()


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(-2**63, 2**63 - 1), min_size=1, max_size=300),
       st.integers(2, 5))
def test_hll_partition_invariance(hs, parts):
    from sparksketch.sketches import HyperLogLog, sketch_from_bytes
    h = np.array(hs, dtype=np.int64)
    whole = HyperLogLog(p=10)
    whole.add_hashes(h)
    merged = HyperLogLog(p=10)
    for chunk in np.array_split(h, parts):
        part = HyperLogLog(p=10)
        part.add_hashes(chunk)
        merged.merge(sketch_from_bytes(part.to_bytes()))
    assert merged.to_bytes() == whole.to_bytes()


@settings(max_examples=100, deadline=None)
@given(st.lists(st.floats(-1e9, 1e9, allow_nan=False), min_size=0,
                max_size=400))
def test_kll_rank_error_bound(vals):
    from sparksketch.sketches import KLLSketch
    sk = KLLSketch(k=200)
    v = np.array(vals, dtype=np.float64)
    sk.add_values(v)
    if v.size == 0:
        return
    for q in (0.1, 0.5, 0.9):
        est = sk.quantile(q)
        # with duplicated values a point "rank of est" is ill-defined
        # (hypothesis: all-equal input); the correct acceptance is the
        # interval form: strictly-less mass can't exceed q+tol and
        # less-or-equal mass can't fall below q-tol
        tol = max(0.1, 2.0 / np.sqrt(v.size))
        assert float((v < est).mean()) <= q + tol
        assert float((v <= est).mean()) >= q - tol


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(0, 2**63 - 1), min_size=0, max_size=500),
       st.integers(1, 64))
def test_bottomk_distinct_exact_below_k(hs, k_small):
    from sparksketch.sketches import BottomKSketch
    h = np.array(hs, dtype=np.int64)
    sk = BottomKSketch(k=1 << 12)
    sk.add_hashes(h)
    # below capacity the estimate is EXACT distinct-by-hash
    import numpy as _np
    distinct = len(set(_np.asarray(h).view(_np.uint64).tolist())) if h.size else 0
    assert round(sk.distinct_estimate()) == distinct


@settings(max_examples=100, deadline=None)
@given(st.binary(min_size=0, max_size=64), st.integers(0, 2**32))
def test_hash_array64_deterministic_and_spread(data, seed):
    from sparksketch.hashing import hash_array64
    a = np.frombuffer(data, dtype=np.uint8)
    h1 = hash_array64(a, seed)
    h2 = hash_array64(a.copy(), seed)
    assert h1 == h2
    assert 0 <= h1 < 2**64
    if data:
        flipped = bytearray(data)
        flipped[0] ^= 1
        assert hash_array64(np.frombuffer(bytes(flipped), dtype=np.uint8),
                            seed) != h1


@settings(max_examples=30, deadline=None)
@given(st.integers(0, 2**32), st.integers(1, 100),
       st.sampled_from([60, 85, 95]), st.booleans())
def test_jpeg_roundtrip_bounded_error(seed, quality_seed, quality, sub):
    """Arbitrary small images survive the baseline JPEG round trip with
    bounded error at every quality; structure markers always valid."""
    from sparksketch.jpeg import decode_jpeg, encode_jpeg
    rng = np.random.default_rng(seed)
    h, w = int(rng.integers(8, 33)), int(rng.integers(8, 33))
    px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    blob = encode_jpeg(px, quality=quality, subsample=sub)
    assert blob[:2] == b"\xff\xd8" and blob[-2:] == b"\xff\xd9"
    out = decode_jpeg(blob)
    assert out.shape == (h, w, 3)
    err = np.abs(out.astype(np.int64) - px.astype(np.int64))
    # noise worst case: luma quant at q60 keeps means sane; hard cap 255
    assert err.mean() <= 60
    if quality >= 95 and not sub:
        assert err.mean() <= 12


@settings(max_examples=60, deadline=None)
@given(st.lists(st.integers(0, 2**62), min_size=0, max_size=120),
       st.integers(2, 5), st.integers(0, 2**32),
       st.sampled_from([16, 32, 64]))
def test_counting_codec_partition_invariance(hs, parts, seed, bits):
    """Counting filter (both cell codecs): any partitioning of the input
    merges to byte-identical output, including through serialization."""
    from sparksketch.shape import Shape
    from sparksketch.sketches import sketch_from_bytes
    from sparksketch.sketches.counting import CountingBloomFilter
    shape = Shape.from_np(200, 1e-4)
    h1 = np.array(hs, dtype=np.int64)
    h2 = np.array([int(x) ^ 0xABCDEF for x in hs], dtype=np.int64)
    whole = CountingBloomFilter(shape, cell_bits=bits)
    if h1.size:
        whole.add_hashes(h1, h2)
    rng = np.random.default_rng(seed)
    order = rng.permutation(parts)
    chunks1 = np.array_split(h1, parts)
    chunks2 = np.array_split(h2, parts)
    acc = None
    for i in order:
        part = CountingBloomFilter(shape, cell_bits=bits)
        if chunks1[i].size:
            part.add_hashes(chunks1[i], chunks2[i])
        blob = part.to_bytes()
        if acc is None:
            acc = sketch_from_bytes(blob)
        else:
            acc.merge(sketch_from_bytes(blob))
    assert acc.to_bytes() == whole.to_bytes()


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(-2**31, 2**31 - 1), min_size=1, max_size=60),
       st.integers(1, 8))
def test_avi_frame_count_and_payload_identity(frame_seeds, fps):
    """The AVI container returns exactly the frames written, in order,
    each decoding back to its source pixels within JPEG tolerance."""
    from sparksketch.jpeg import decode_jpeg
    from sparksketch.multimodal import decode_avi_mjpeg, encode_avi_mjpeg
    frames = []
    for s in frame_seeds[:6]:
        rng = np.random.default_rng(abs(s))
        base = int(rng.integers(0, 128))
        y = np.arange(16)[:, None, None]
        x = np.arange(16)[None, :, None]
        c = np.arange(3)[None, None, :]
        frames.append(np.clip(base + y + x + c * 10, 0, 255)
                      .astype(np.uint8))
    blob = encode_avi_mjpeg(frames, fps=fps)
    fb, usec = decode_avi_mjpeg(blob)
    assert len(fb) == len(frames)
    assert usec == 1_000_000 // fps
    for want, got in zip(frames, fb):
        px = decode_jpeg(got)
        assert np.abs(px.astype(float) - want.astype(float)).mean() <= 1.0


def _one_of_each_sketch():
    from sparksketch.shape import Shape, StableShape
    from sparksketch.sketches import (BloomFilter, BottomKSketch,
                                      CountMinSketch, CountingBloomFilter,
                                      HyperLogLog, KLLSketch,
                                      LayeredBloomFilter, MinHashSketch,
                                      StableBloomFilter, TDigest)
    shape = Shape.from_np(100, 1e-4)
    sks = [BloomFilter(shape), CountingBloomFilter(shape),
           CountingBloomFilter(shape, cell_bits=16),
           HyperLogLog(p=8), CountMinSketch(64, 3), KLLSketch(64),
           TDigest(50.0), BottomKSketch(32), MinHashSketch(16),
           StableBloomFilter(StableShape.builder(shape).set_max(3).build()),
           LayeredBloomFilter(shape, {0: np.zeros(shape.num_words,
                                                  dtype=np.uint64)})]
    h = np.arange(40, dtype=np.int64)
    for sk in sks:
        # feed whatever the kind accepts; content is irrelevant to the
        # truncation property, only a non-trivial serialized state is
        for meth, args in (("add_hashes", (h, h ^ 7)),
                           ("add_hashes", (h,)),
                           ("insert_hashes", (h, h ^ 7)),
                           ("add_values", (h.astype(np.float64),))):
            if hasattr(sk, meth):
                try:
                    getattr(sk, meth)(*args)
                    break
                except TypeError:
                    continue
    return sks


@settings(max_examples=80, deadline=None)
@given(st.integers(0, 10), st.floats(0.0, 0.999))
def test_truncated_sketch_blobs_fail_cleanly(which, frac):
    """Corrupt/truncated blobs of EVERY sketch kind raise ValueError or
    reconstruct without crashing — never hang, segfault, or silently
    accept garbage lengths (an executor-safety property: one bad row in
    a sketch table must fail the task cleanly)."""
    sks = _one_of_each_sketch()
    from sparksketch.sketches import sketch_from_bytes
    blob = sks[which % len(sks)].to_bytes()
    cut = blob[:max(1, int(len(blob) * frac))]
    if cut == blob:
        return
    try:
        sketch_from_bytes(cut)
    except (ValueError, struct_error):
        pass


try:
    from struct import error as struct_error
except ImportError:  # pragma: no cover
    struct_error = ValueError


@settings(max_examples=MAX_EX, deadline=None)
@given(r=st.floats(0.0, 1.0))
def test_rate_threshold_monotone_and_calibrated(r):
    from sparksketch.sampling import rate_threshold
    t = rate_threshold(r)
    assert len(t) == 8
    if t == "gggggggg":  # rate ~ 1.0 sentinel: above every hex prefix
        assert r > 1 - 2e-10 or round(r * 16**8 + 0.5) >= 16**8
    else:
        # the threshold encodes round-half-up(r * 16^8) exactly
        assert int(t, 16) == min(16**8, int(r * 16**8 + 0.5))
    # monotone: a larger rate never yields a smaller threshold
    bigger = rate_threshold(min(1.0, r + 0.01))
    assert bigger >= t


@settings(max_examples=50, deadline=None)
@given(st.lists(st.text(st.characters(codec="ascii"), max_size=12),
                min_size=0, max_size=60),
       st.floats(0.05, 0.95))
def test_hash_threshold_selection_is_pure_function_of_key(keys, rate):
    """The md5-prefix rule selects a key independent of position, batch,
    or duplication — the property that makes the sample reproducible on
    any engine/partitioning (no Spark needed to check the rule itself)."""
    import hashlib
    from sparksketch.sampling import rate_threshold
    thr = rate_threshold(rate)
    def keep(k):
        return hashlib.md5(f"s:{k}".encode()).hexdigest()[:8] < thr
    once = {k: keep(k) for k in keys}
    # shuffled + duplicated evaluation agrees with the single evaluation
    for k in list(reversed(keys)) + keys:
        assert keep(k) == once[k]


@settings(max_examples=60, deadline=None)
@given(h=st.integers(2, 40), w=st.integers(2, 48), seed=st.integers(0, 2**32),
       interlace=st.booleans())
def test_png_roundtrip_exact_any_shape(h, w, seed, interlace):
    """PNG is lossless: encode->decode must recover the pixels EXACTLY at
    every shape (ragged Adam7 passes included) and both interlace modes."""
    from sparksketch.png import decode_png, encode_png
    px = np.random.default_rng(seed).integers(
        0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(px, interlace=interlace)),
                          px)


@settings(max_examples=30, deadline=None)
@given(h=st.integers(8, 40), w=st.integers(8, 40), seed=st.integers(0, 2**32),
       quality=st.sampled_from([50, 75, 90]), sub=st.booleans())
def test_progressive_always_identical_to_baseline(h, w, seed, quality, sub):
    """The SOF2 stream carries the same quantized coefficients as the
    baseline stream, so their decodes must be byte-identical for ANY
    image/shape/quality/subsampling — the strongest possible contract on
    the successive-approximation scan machinery."""
    from sparksketch.jpeg import decode_jpeg, encode_jpeg
    px = np.random.default_rng(seed).integers(
        0, 256, size=(h, w, 3), dtype=np.uint8)
    base = decode_jpeg(encode_jpeg(px, quality=quality, subsample=sub))
    prog = decode_jpeg(encode_jpeg(px, quality=quality, subsample=sub,
                                   progressive=True))
    assert np.array_equal(base, prog)


@settings(max_examples=MAX_EX, deadline=None)
@given(st.lists(st.integers(-2**63, 2**63 - 1), min_size=1, max_size=100),
       st.integers(1, 16), st.integers(2, 1 << 20))
def test_derive_h2_edh_matches_explicit(hs, k, m):
    """The omitted-h2 convention: edh_indices(h1, None) must equal
    edh_indices(h1, derive_h2(h1)) for any (k, m), and deriving must be
    a pure function of h1 (build/probe consistency)."""
    from sparksketch.hashing import derive_h2, edh_indices
    h1 = np.array(hs, dtype=np.int64)
    d = derive_h2(h1)
    assert np.array_equal(edh_indices(h1, None, k, m),
                          edh_indices(h1, d, k, m))
    assert np.array_equal(d, derive_h2(h1.copy()))


@settings(max_examples=60, deadline=None)
@given(seed=st.integers(0, 2**32), mvx=st.integers(-40, 100),
       mvy=st.integers(-40, 100), x0=st.integers(0, 8),
       y0=st.integers(0, 8))
def test_qpel_interp_matches_scalar_spec_reference(seed, mvx, mvy, x0, y0):
    """The vectorized 8.4.2.2.1 interpolator equals a per-pixel scalar
    transcription of the spec equations at EVERY sub-position and under
    arbitrary edge clamping (small reference, displacements far past
    every border)."""
    from sparksketch.h264 import _mc_luma
    from tests.test_h264_qpel import _ref_interp
    rng = np.random.default_rng(seed)
    ref = rng.integers(0, 256, (24, 24), dtype=np.uint8)
    xi, xf = mvx >> 2, mvx & 3
    yi, yf = mvy >> 2, mvy & 3
    got = _mc_luma(ref, x0, y0, (mvx, mvy), (8, 8))
    want = np.array(
        [[_ref_interp(ref, y0 + yi + yy, x0 + xi + xx, xf, yf)
          for xx in range(8)] for yy in range(8)], dtype=np.uint8)
    assert np.array_equal(got, want)
