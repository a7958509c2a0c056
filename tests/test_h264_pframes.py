"""P-slice tests (sparksketch/h264.py inter subset: P_L0_16x16 + P_Skip,
full-sample luma MC, eighth-sample bilinear chroma MC, median MV
prediction, mb_skip_run, Table 9-4 inter cbp mapping).
"""
import numpy as np
import pytest

from sparksketch.h264 import (_CBP_INTER, _CBP_INTER_INV, _mc_chroma,
                              _mc_luma, _mv_pred_16x16, _skip_mv,
                              decode_gop, decode_pframe_planes, encode_gop,
                              encode_iframe, encode_pframe,
                              rgb_to_yuv420, yuv420_to_rgb, _decode_slice)
from sparksketch.mp4 import encode_pps, encode_sps, parse_pps, parse_sps


def _cfg(w, h):
    return (parse_sps(encode_sps(w, h, fps=10.0)),
            parse_pps(encode_pps(deblocking_control=True)))


def _recon_420(rgb):
    return yuv420_to_rgb(*rgb_to_yuv420(rgb))


class TestCbpInterTable:
    def test_permutation(self):
        assert sorted(_CBP_INTER) == list(range(48))
        for code, cbp in enumerate(_CBP_INTER):
            assert _CBP_INTER_INV[cbp] == code

    def test_spec_anchors(self):
        # Table 9-4 inter column: codeNum 0 -> 0 (nothing coded — the
        # cheapest symbol for inter MBs), 1 -> 16 (chroma DC only),
        # 12 -> 47 (everything)
        assert _CBP_INTER[0] == 0
        assert _CBP_INTER[1] == 16
        assert _CBP_INTER[12] == 47


class TestMotionPrimitives:
    def test_mc_luma_integer_and_clamp(self):
        ref = np.arange(32 * 32, dtype=np.uint8).reshape(32, 32)
        out = _mc_luma(ref, 0, 0, (4 * 3, 4 * 2))
        assert np.array_equal(out, ref[2:18, 3:19])
        # negative displacement past the edge clamps (8.4.2.2.1)
        out = _mc_luma(ref, 0, 0, (-4 * 2, 0))
        assert np.array_equal(out[:, 0], out[:, 1])
        assert np.array_equal(out[:, 2], ref[:16, 0])

    def test_mc_luma_half_sample_six_tap(self):
        # round 5: fractional luma is inside the subset — a flat-field
        # half-sample position reproduces the field (taps sum to 32), and
        # a step edge shows the 6-tap ringing the bilinear filter lacks
        ref = np.full((32, 32), 77, dtype=np.uint8)
        assert (_mc_luma(ref, 8, 8, (2, 0)) == 77).all()
        ref = np.zeros((32, 32), dtype=np.uint8)
        ref[:, 16:] = 100
        out = _mc_luma(ref, 8, 8, (2, 0))
        # at the edge-adjacent half position: (1*0 -5*0 +20*0 +20*100
        # -5*100 +1*100 + 16) >> 5 = 50 exactly at the step center
        assert out[0, 8 - 1] == ((20 * 100 - 5 * 100 + 100 + 16) >> 5)

    def test_mc_chroma_half_sample_exact(self):
        # luma mv (4,0) = half-sample chroma x: each output pixel is the
        # exact (a+b+4)>>3-weighted pair per 8.4.2.2.2 with xFrac=4
        ref = np.zeros((16, 16), dtype=np.uint8)
        ref[:, 4] = 80
        ref[:, 5] = 160
        out = _mc_chroma(ref, 4, 0, (4, 0))
        # xFrac=4, yFrac=0: ((8-4)*8*80 + 4*8*160 + 32) >> 6 = 120
        assert (out[:, 0] == 120).all()

    @staticmethod
    def _grids(mbs_h, mbs_w):
        """4x4-block-granularity (mvs4, ref4, decoded) grids; helper to
        set a whole MB's blocks at once (ref4 holds the reference index,
        -1 = intra/undecoded)."""
        mvs4 = np.zeros((mbs_h * 4, mbs_w * 4, 2), dtype=np.int32)
        ref4 = np.full((mbs_h * 4, mbs_w * 4), -1, dtype=np.int8)
        dec = np.zeros((mbs_h * 4, mbs_w * 4), dtype=bool)

        def set_mb(mbx, mby, mv=None, ri=0):
            y, x = mby * 4, mbx * 4
            dec[y:y + 4, x:x + 4] = True
            if mv is not None:
                mvs4[y:y + 4, x:x + 4] = mv
                ref4[y:y + 4, x:x + 4] = ri
        return mvs4, ref4, dec, set_mb

    def test_mv_median_prediction(self):
        mvs4, ref4, dec, set_mb = self._grids(2, 3)
        # all three neighbors inter with distinct mvs -> median
        set_mb(0, 1, (4, 8))    # A (left of (1,1))
        set_mb(1, 0, (12, 0))   # B
        set_mb(2, 0, (8, 20))   # C
        assert _mv_pred_16x16(mvs4, ref4, dec, 1, 1) == (8, 8)
        # exactly one inter neighbor -> its mv verbatim
        ref4[0:4, 4:12] = -1
        assert _mv_pred_16x16(mvs4, ref4, dec, 1, 1) == (4, 8)
        # first row, only A in picture -> mvA
        set_mb(0, 0, (-8, 4))
        assert _mv_pred_16x16(mvs4, ref4, dec, 1, 0) == (-8, 4)

    def test_mv_refidx_matching(self):
        """8.4.1.3.1: the exactly-one shortcut keys on refidx equality;
        neighbors on OTHER references still contribute their mvs to the
        median."""
        mvs4, ref4, dec, set_mb = self._grids(2, 3)
        set_mb(0, 1, (4, 8), ri=1)   # A on ref 1
        set_mb(1, 0, (12, 0), ri=0)  # B on ref 0
        set_mb(2, 0, (8, 20), ri=0)  # C on ref 0
        # predicting for refidx 1: only A matches -> its mv verbatim
        assert _mv_pred_16x16(mvs4, ref4, dec, 1, 1, refidx=1) == (4, 8)
        # predicting for refidx 0: B and C match (two) -> median of all
        # three actual mvs (A contributes (4,8) despite ref 1)
        assert _mv_pred_16x16(mvs4, ref4, dec, 1, 1, refidx=0) == (8, 8)

    def test_mv_directional_prediction(self):
        from sparksketch.h264 import _mv_pred
        mvs4, ref4, dec, set_mb = self._grids(2, 3)
        set_mb(0, 1, (4, 8))    # A of MB (1,1)
        set_mb(1, 0, (12, 0))   # B
        set_mb(2, 0, (8, 20))   # C
        bx, by = 4, 4
        # 16x8 top takes B verbatim, 8x16 left takes A (8.4.1.3)
        assert _mv_pred(mvs4, ref4, dec, bx, by, 4,
                        part="16x8_top") == (12, 0)
        assert _mv_pred(mvs4, ref4, dec, bx, by, 2,
                        part="8x16_left") == (4, 8)
        # 8x16 right: C of the right half = up-right of the whole MB
        assert _mv_pred(mvs4, ref4, dec, bx + 2, by, 2,
                        part="8x16_right") == (8, 20)
        # 16x8 bottom takes A; with the left MB intra it falls back to
        # the median (which sees the top partition's mv as its B)
        mvs4[by + 2:by + 4, bx:bx + 4] = 0
        assert _mv_pred(mvs4, ref4, dec, bx, by + 2, 4,
                        part="16x8_bot") == (4, 8)
        ref4[4:8, 0:4] = -1     # left MB now intra
        mvs4[by:by + 2, bx:bx + 4] = (6, 6)   # decoded top partition
        ref4[by:by + 2, bx:bx + 4] = 0
        dec[by:by + 2, bx:bx + 4] = True
        got = _mv_pred(mvs4, ref4, dec, bx, by + 2, 4, part="16x8_bot")
        assert got == (6, 6)  # exactly-one-inter-neighbor rule: B

    def test_skip_mv_rules(self):
        mvs4, ref4, dec, set_mb = self._grids(2, 2)
        # edge MB (no A or B in picture) -> zero
        assert _skip_mv(mvs4, ref4, dec, 0, 0) == (0, 0)
        assert _skip_mv(mvs4, ref4, dec, 1, 0) == (0, 0)
        # interior with a zero-mv ref-0 inter neighbor -> zero
        set_mb(0, 1, (0, 0))
        set_mb(1, 0, (8, 8))
        set_mb(0, 0)
        assert _skip_mv(mvs4, ref4, dec, 1, 1) == (0, 0)
        # interior, both neighbors moving -> the median predictor
        mvs4[4:8, 0:4] = (8, 4)
        assert _skip_mv(mvs4, ref4, dec, 1, 1) != (0, 0)
        # a zero-mv neighbor on ref 1 does NOT trigger the zero rule
        mvs4[4:8, 0:4] = (0, 0)
        ref4[4:8, 0:4] = 1
        assert _skip_mv(mvs4, ref4, dec, 1, 1) != (0, 0)


class TestGop:
    def test_translating_scene_compresses_and_decodes(self):
        rng = np.random.default_rng(7)
        base = (np.cumsum(rng.integers(0, 4, (48, 80, 3)), axis=1)
                % 180 + 30).astype(np.uint8)
        frames = [np.roll(base, 2 * f, axis=1) for f in range(5)]
        nals = encode_gop(frames, qp=24, pcm_mad=4.0)
        assert all(len(n) < len(nals[0]) / 2 for n in nals[1:])
        sps, pps = _cfg(80, 48)
        st = {}
        outs = decode_gop(nals, sps, pps, stats=st)
        assert st.get("p16", 0) > 0 and st.get("skip", 0) > 0
        for fr, out in zip(frames, outs):
            err = np.abs(out.astype(int) - _recon_420(fr).astype(int))
            assert err.mean() < 5.0

    def test_static_scene_mostly_skips(self):
        # a static scene: the first P frame may still spend a few
        # residual bits converging the I frame's quantization error
        # toward the source, but by the second P frame the recon is a
        # fixpoint and every MB skips (header + one mb_skip_run)
        rng = np.random.default_rng(9)
        fr = rng.integers(0, 256, (32, 48, 3), dtype=np.uint8)
        nals = encode_gop([fr] * 5, qp=26, pcm_mad=64.0)
        assert len(nals[-1]) < 12  # header + one mb_skip_run only
        sps, pps = _cfg(48, 32)
        st = {}
        outs = decode_gop(nals, sps, pps, stats=st)
        assert st.get("skip", 0) >= 11  # later frames are skip-dominated
        # the fixpoint frames reproduce their reference bit-identically
        assert np.array_equal(outs[-1], outs[-2])

    def test_scene_cut_picks_intra(self):
        # noise frame, then an unrelated SMOOTH frame: motion
        # compensation off the noise reference leaves an expensive
        # noisy residual while intra prediction of the smooth content
        # is nearly free — the rate-aware decision must switch the
        # second frame's MBs to intra
        rng = np.random.default_rng(11)
        a = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
        y, x = np.mgrid[0:32, 0:32]
        b = np.stack([(60 + 2 * y + x).astype(np.uint8)] * 3, -1)
        nals = encode_gop([a, b], qp=26, pcm_mad=4.0)
        sps, pps = _cfg(32, 32)
        st = {}
        outs = decode_gop(nals, sps, pps, stats=st)
        st2 = {}
        decode_pframe_planes(nals[1], sps, pps,
                             _decode_slice(nals[0], sps, pps, None),
                             stats=st2)
        assert st2.get("i16", 0) + st2.get("i4", 0) >= 2, st2
        err = np.abs(outs[1].astype(int) - _recon_420(b).astype(int))
        assert err.mean() < 4.0

    def test_deterministic_and_chained_reference(self):
        rng = np.random.default_rng(13)
        base = (np.cumsum(rng.integers(0, 3, (32, 64, 3)), axis=0)
                % 200).astype(np.uint8)
        frames = [np.roll(base, 3 * f, axis=0) for f in range(4)]
        nals1 = encode_gop(frames, qp=22)
        nals2 = encode_gop(frames, qp=22)
        assert nals1 == nals2
        sps, pps = _cfg(64, 32)
        outs1 = decode_gop(nals1, sps, pps)
        outs2 = decode_gop(nals1, sps, pps)
        for o1, o2 in zip(outs1, outs2):
            assert np.array_equal(o1, o2)

    def test_error_drift_bounded_over_long_gop(self):
        # 12 P frames chained off one I frame: because encoder and
        # decoder share the reconstruction bit-exactly, error must NOT
        # accumulate frame over frame
        rng = np.random.default_rng(17)
        base = (np.cumsum(rng.integers(0, 3, (32, 48, 3)), axis=1)
                % 190 + 20).astype(np.uint8)
        frames = [np.roll(base, f, axis=1) for f in range(13)]
        nals = encode_gop(frames, qp=24, pcm_mad=4.0)
        sps, pps = _cfg(48, 32)
        outs = decode_gop(nals, sps, pps)
        errs = [float(np.abs(o.astype(int)
                             - _recon_420(fr).astype(int)).mean())
                for fr, o in zip(frames, outs)]
        assert max(errs) <= 5.0, errs
        assert errs[-1] < errs[0] + 2.0  # no drift blow-up


    def test_long_gop_decodes_in_order(self):
        # 140 distinct P pictures: more than the 128 that the 8-bit
        # pic_order_cnt_lsb (2 * frame_num) can order, so decode_gop
        # must return decode order rather than sort by POC.  Flat gray
        # frames at pcm_mad=0 decode exactly.
        frames = [np.full((16, 16, 3), 40 + i, dtype=np.uint8)
                  for i in range(140)]
        nals = encode_gop(frames, qp=26, pcm_mad=0.0, search=1)
        outs = decode_gop(nals, *_cfg(16, 16))
        assert len(outs) == len(frames)
        wrong = [i for i, (fr, out) in enumerate(zip(frames, outs))
                 if not np.array_equal(out, fr)]
        assert not wrong, f"{len(wrong)} of 140 frames out of place"

class TestPDecoderGuards:
    def test_p_without_reference_rejected(self):
        rng = np.random.default_rng(3)
        fr = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
        nals = encode_gop([fr, fr])
        sps, pps = _cfg(16, 16)
        with pytest.raises(ValueError, match="reference"):
            decode_pframe_planes(nals[1], sps, pps, None)  # type: ignore

    def test_unsupported_partition_rejected(self):
        from sparksketch.mp4 import _BitWriter
        sps, pps = _cfg(16, 16)
        ref = (np.zeros((16, 16), np.uint8), np.zeros((8, 8), np.uint8),
               np.zeros((8, 8), np.uint8))
        w = _BitWriter()
        w.ue(0)
        w.ue(5)      # P slice
        w.ue(0)
        w.u(1, 8)
        w.u(2, 8)
        w.u(0, 3)    # override / list-mod / adaptive-marking flags
        w.se(0)
        w.ue(1)
        w.ue(0)      # mb_skip_run = 0
        w.ue(3)      # mb_type 3: P_8x8
        for smt in (4, 0, 0, 0):   # sub_mb_type 4: not in Table 7-14
            w.ue(smt)
        with pytest.raises(ValueError, match="sub_mb_type"):
            decode_pframe_planes(bytes([0x61]) + w.rbsp(), sps, pps, ref)

    def test_skip_run_overrun_rejected(self):
        from sparksketch.mp4 import _BitWriter
        sps, pps = _cfg(16, 16)
        ref = (np.zeros((16, 16), np.uint8), np.zeros((8, 8), np.uint8),
               np.zeros((8, 8), np.uint8))
        w = _BitWriter()
        w.ue(0)
        w.ue(5)
        w.ue(0)
        w.u(1, 8)
        w.u(2, 8)
        w.u(0, 3)
        w.se(0)
        w.ue(1)
        w.ue(9)      # mb_skip_run = 9 in a 1-MB picture
        with pytest.raises(ValueError, match="overrun"):
            decode_pframe_planes(bytes([0x61]) + w.rbsp(), sps, pps, ref)


class TestGopFuzz:
    def test_random_gops_across_feature_matrix(self):
        """Randomized single-reference I/P encode/decode sweeps across
        frame sizes, qp, motion and brightness drift: every stream must
        decode with bounded error and decode deterministically (two
        decodes bit-equal).  Catches feature interactions the targeted
        fixtures miss."""
        rng = np.random.default_rng(113)
        for trial in range(6):
            w = int(rng.integers(2, 6)) * 16
            h = int(rng.integers(2, 5)) * 16
            qp = int(rng.choice([8, 18, 26, 32]))
            base = (np.cumsum(rng.integers(0, 4, (h, w)), axis=1)
                    % 170 + 40).astype(np.uint8)
            frames = []
            for f in range(int(rng.integers(2, 6))):
                dx, dy = int(rng.integers(-3, 4)), int(rng.integers(-2, 3))
                ys = np.clip(np.arange(h) + dy * f, 0, h - 1)
                xs = np.clip(np.arange(w) + dx * f, 0, w - 1)
                fr = base[np.ix_(ys, xs)]
                if rng.random() < 0.3:  # brightness drift
                    fr = np.clip(fr.astype(np.int64)
                                 + int(rng.integers(-20, 21)),
                                 0, 255).astype(np.uint8)
                frames.append(np.repeat(fr[:, :, None], 3, axis=2))
            nals = encode_gop(frames, qp=qp, pcm_mad=6.0)
            sps, pps = _cfg(w, h)
            outs1 = decode_gop(nals, sps, pps)
            outs2 = decode_gop(nals, sps, pps)
            assert all(np.array_equal(a, b)
                       for a, b in zip(outs1, outs2))
            assert len(outs1) == len(frames)
            for fr, out in zip(frames, outs1):
                err = np.abs(out.astype(int) - _recon_420(fr).astype(int))
                assert err.mean() < 7.0, (trial, w, h, qp,
                                          float(err.mean()))
