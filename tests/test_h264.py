"""H.264 baseline-intra codec tests (sparksketch/h264.py).

The decisive contract: the decoder reconstructs BIT-IDENTICALLY what the
encoder reconstructed (both run prediction off reconstructed neighbors),
and I_PCM round-trips losslessly in 4:2:0 space.  Everything outside the
documented subset raises NotImplementedError naming the feature.
"""
import hashlib

import numpy as np
import pytest

from sparksketch.h264 import (avc_sample, decode_avc_sample, decode_iframe,
                              encode_iframe, rgb_to_yuv420, yuv420_to_rgb,
                              _CoeffCtx, _pred_chroma8, _pred_luma16)
from sparksketch.h264_residual import nc_from_grid
from sparksketch.mp4 import (build_avcc, build_mp4, encode_pps, encode_sps,
                             mp4_frame_plan, parse_mp4, parse_pps, parse_sps)


def _cfg(w, h, fps=10.0):
    sps = encode_sps(w, h, fps=fps)
    pps = encode_pps(deblocking_control=True)
    return parse_sps(sps), parse_pps(pps), sps, pps


def _gradient(h, w, seed=0):
    # linear ramp chosen to NEVER clip (seed + h + w + 80 <= 255 for the
    # sizes used here): clipping would bend the plane and defeat the
    # plane-mode predictions the tests rely on
    y = np.arange(h)[:, None, None]
    x = np.arange(w)[None, :, None]
    c = np.arange(3)[None, None, :]
    return ((seed + y + x + 40 * c) % 256).astype(np.uint8)


def _noise(h, w, seed=0):
    return np.random.default_rng(seed).integers(
        0, 256, size=(h, w, 3), dtype=np.uint8)


def _recon_420(rgb):
    """What a lossless 4:2:0 pipeline reproduces: the chroma-subsample
    round trip, no codec involved."""
    return yuv420_to_rgb(*rgb_to_yuv420(rgb))


class TestColor:
    def test_yuv_roundtrip_close(self):
        # smooth content: 4:2:0 chroma averaging loses almost nothing
        rgb = _gradient(32, 48, seed=20)
        back = _recon_420(rgb)
        assert np.abs(back.astype(int) - rgb.astype(int)).mean() < 3.0
        # pure noise: chroma variance is the averaging worst case, but
        # luma (extracted exactly) bounds the damage
        noisy = _noise(32, 48, 1)
        err = np.abs(_recon_420(noisy).astype(int) - noisy.astype(int))
        assert err.mean() < 64

    def test_flat_frame_exact(self):
        rgb = np.full((16, 16, 3), 77, dtype=np.uint8)
        assert np.array_equal(_recon_420(rgb), rgb)

    def test_odd_dims_rejected(self):
        with pytest.raises(ValueError):
            rgb_to_yuv420(np.zeros((15, 16, 3), dtype=np.uint8))


class TestPcmLossless:
    def test_all_pcm_roundtrip_exact(self):
        rgb = _noise(32, 32, 2)
        sps, pps, _, _ = _cfg(32, 32)
        nal = encode_iframe(rgb, pcm_mad=0.0)
        out = decode_iframe(nal, sps, pps)
        # exact vs the 4:2:0-space source (PCM stores Y/Cb/Cr verbatim)
        assert np.array_equal(out, _recon_420(rgb))

    def test_cropped_dims(self):
        # 20x12 -> 2x1 MBs with SPS frame cropping
        rgb = _noise(12, 20, 3)
        sps, pps, _, _ = _cfg(20, 12)
        assert (sps["width"], sps["height"]) == (20, 12)
        out = decode_iframe(encode_iframe(rgb, pcm_mad=0.0), sps, pps)
        assert out.shape == (12, 20, 3)
        assert np.array_equal(out, _recon_420(rgb))

    def test_emulation_prevention_survives(self):
        # zero PCM payload bytes force 00 00 runs through the RBSP
        # escape layer (pcm_mad=-1 forces I_PCM: flat MBs would
        # otherwise residual-code exactly and never emit zero runs)
        rgb = np.zeros((16, 32, 3), dtype=np.uint8)
        rgb[:, 16:] = 255
        sps, pps, _, _ = _cfg(32, 16)
        nal = encode_iframe(rgb, pcm_mad=-1.0)
        assert b"\x00\x00\x03" in nal  # escapes actually inserted
        assert np.array_equal(decode_iframe(nal, sps, pps),
                              _recon_420(rgb))


class TestPredictedPath:
    def test_gradient_compresses_and_decodes(self):
        # 6x4 MBs: the 9 edge MBs lack the neighbors plane mode needs
        # and go PCM; the 15 interior MBs predict the ramp exactly
        rgb = _gradient(64, 96, seed=8)
        sps, pps, _, _ = _cfg(96, 64)
        nal = encode_iframe(rgb, pcm_mad=6.0)
        raw = encode_iframe(rgb, pcm_mad=-1.0)  # forced all-PCM baseline
        assert len(nal) < len(raw) / 2  # prediction actually engaged
        out = decode_iframe(nal, sps, pps)
        # prediction approximates the smooth gradient tightly
        assert np.abs(out.astype(int) - rgb.astype(int)).mean() < 4.0

    def test_decoder_matches_encoder_recon_bitexact(self):
        # decode(encode(x)) must equal a PCM re-encode of itself: if the
        # decoder's prediction chain matched the encoder's, re-encoding
        # the DECODED frame losslessly and decoding again is a fixpoint
        rgb = _gradient(48, 32, seed=7)
        sps, pps, _, _ = _cfg(32, 48)
        out1 = decode_iframe(encode_iframe(rgb, pcm_mad=5.0), sps, pps)
        out2 = decode_iframe(encode_iframe(out1, pcm_mad=0.0), sps, pps)
        assert np.array_equal(_recon_420(out1), out2)

    def test_hybrid_pcm_and_predicted(self):
        # smooth background + one noise MB -> encoder mixes modes: the
        # noise MB (and its prediction-poisoned right/down neighbors) go
        # PCM and stay exact, while interior MBs with clean
        # reconstructed neighbors still predict
        rgb = _gradient(48, 64, seed=10).copy()
        rgb[16:32, 16:32] = _noise(16, 16, 9)
        sps, pps, _, _ = _cfg(64, 48)
        # pcm_mad below the ~qstep/3 residual-coding floor at qp=26, so
        # the noise MB still goes PCM while smooth MBs residual-code
        nal = encode_iframe(rgb, pcm_mad=1.5)
        out = decode_iframe(nal, sps, pps)
        assert np.array_equal(out[16:32, 16:32],
                              _recon_420(rgb)[16:32, 16:32])
        raw = encode_iframe(rgb, pcm_mad=-1.0)  # forced all-PCM baseline
        assert len(raw) > len(nal) > 384  # mixes PCM and predicted MBs

    def test_nc_context_after_pcm_neighbor(self):
        # MB to the RIGHT of an I_PCM MB reads its DC coeff_token from
        # the nC>=8 FLC table — a decode that ignored the PCM neighbor
        # rule (nN=16, spec 9.2.1) would desync and fail loudly
        ctx = _CoeffCtx(3, 2)
        ctx.mark_pcm(0, 0)
        # DC block of MB (1,0): left = PCM MB's rightmost column (16)
        assert nc_from_grid(ctx.luma, 4, 0) == 16
        assert nc_from_grid(ctx.luma, 4, 4) == 0    # left+up non-PCM
        assert nc_from_grid(ctx.luma, 0, 4) == 16   # up is PCM
        ctx.mark_pcm(1, 0)
        # left total 0 + up total 16 -> (0+16+1)>>1
        assert nc_from_grid(ctx.luma, 4, 4) == 8
        rgb = _gradient(32, 48, seed=3).copy()
        rgb[0:16, 0:16] = _noise(16, 16, 4)   # forces PCM at (0,0)
        sps, pps, _, _ = _cfg(48, 32)
        out = decode_iframe(encode_iframe(rgb, pcm_mad=1.5), sps, pps)
        assert np.array_equal(out[0:16, 0:16],
                              _recon_420(rgb)[0:16, 0:16])

    def test_availability_rules(self):
        rec = np.zeros((32, 32), dtype=np.uint8)
        top_left = _pred_luma16(rec, 0, 0)
        assert set(top_left) == {2}              # DC only
        assert top_left[2][0, 0] == 128
        top = _pred_luma16(rec, 16, 0)
        assert set(top) == {1, 2}                # H + DC
        interior = _pred_luma16(rec, 16, 16)
        assert set(interior) == {0, 1, 2, 3}
        crec = np.zeros((16, 16), dtype=np.uint8)
        assert set(_pred_chroma8(crec, 0, 0)) == {0}
        assert set(_pred_chroma8(crec, 8, 8)) == {0, 1, 2, 3}

    def test_plane_mode_spec_values(self):
        # hand-computed plane prediction on a pure ramp: up row = x,
        # left col = 2y, corner p[-1,-1] = 0 (all exact per 8.3.3.4)
        rec = np.zeros((32, 32), dtype=np.uint8)
        rec[15, 16:32] = np.arange(1, 17)     # up row for MB at (16,16)
        rec[16:32, 15] = 2 * np.arange(1, 17)  # left col
        rec[15, 15] = 0
        pred = _pred_luma16(rec, 16, 16)[3].astype(int)
        hh = sum((x + 1) * (int(rec[15, 16 + 8 + x])
                            - int(rec[15, 16 + 6 - x])) for x in range(8))
        vv = sum((y + 1) * (int(rec[16 + 8 + y, 15])
                            - int(rec[16 + 6 - y, 15])) for y in range(8))
        a = 16 * (int(rec[15, 31]) + int(rec[31, 15]))
        b = (5 * hh + 32) >> 6
        c = (5 * vv + 32) >> 6
        want = np.clip((a + b * (np.arange(16)[None, :] - 7)
                        + c * (np.arange(16)[:, None] - 7) + 16) >> 5,
                       0, 255)
        assert np.array_equal(pred, want)


class TestSeamsRaiseLoudly:
    def test_deblocking_on_rejected(self):
        rgb = _noise(16, 16, 5)
        sps, _, _, _ = _cfg(16, 16)
        pps_on = parse_pps(encode_pps(deblocking_control=False))
        with pytest.raises(NotImplementedError, match="deblocking"):
            decode_iframe(encode_iframe(rgb), sps, pps_on)

    def test_invalid_cbp_code_rejected(self):
        # an I_4x4 MB whose coded_block_pattern codeNum exceeds the
        # Table 9-4 domain (47) must fail loudly
        from sparksketch.mp4 import _BitWriter
        sps, pps, _, _ = _cfg(16, 16)
        w = _BitWriter()
        for v in (0, 7, 0):
            w.ue(v)
        w.u(0, 8)
        w.ue(0)
        w.u(0, 8)
        w.u(0, 2)
        w.se(0)
        w.ue(1)
        w.ue(0)          # mb_type = 0: I_4x4
        for _ in range(16):
            w.u(1, 1)    # all most-probable modes
        w.ue(0)          # chroma DC
        w.ue(48)         # coded_block_pattern codeNum out of range
        with pytest.raises(ValueError, match="coded_block_pattern"):
            decode_iframe(bytes([0x65]) + w.rbsp(), sps, pps)

    def test_truncated_residual_rejected(self):
        # an I_16x16 header announcing cbp_luma=15 with no residual bits
        # behind it must fail loudly (truncation), never silently decode
        from sparksketch.mp4 import _BitWriter
        sps, pps, _, _ = _cfg(16, 16)
        w = _BitWriter()
        for v in (0, 7, 0):
            w.ue(v)
        w.u(0, 8)
        w.ue(0)
        w.u(0, 8)
        w.u(0, 2)
        w.se(0)
        w.ue(1)
        w.ue(13)  # I_16x16 with cbp_luma = 15
        w.ue(0)   # intra_chroma_pred_mode
        w.se(0)   # mb_qp_delta — then nothing: residual bits missing
        with pytest.raises(ValueError):
            decode_iframe(bytes([0x65]) + w.rbsp(), sps, pps)

    @staticmethod
    def _out_of_subset(feature):
        """(GOP NALs, pps) whose second picture uses ``feature``."""
        from sparksketch.h264 import encode_gop
        from sparksketch.mp4 import _BitWriter
        rgb = _noise(16, 16, 7)
        nals = encode_gop([rgb, rgb])
        pps = parse_pps(encode_pps(deblocking_control=True))
        if feature == "weighted":
            return nals, dict(pps, weighted_pred=1)
        w = _BitWriter()
        w.ue(0)                                  # first_mb_in_slice
        w.ue(6 if feature == "b_slice" else 5)   # slice_type B / P
        w.ue(0)                                  # pic_parameter_set_id
        w.u(1, 8)                                # frame_num
        w.u(2, 8)                                # pic_order_cnt_lsb
        w.u(1, 1)                # num_ref_idx_active_override_flag
        w.ue(1)                  # num_ref_idx_l0_active_minus1: 2 refs
        w.u(0, 2)
        w.se(0)
        w.ue(1)
        return [nals[0], bytes([0x61]) + w.rbsp()], pps

    @pytest.mark.parametrize("feature", ["b_slice", "weighted", "two_refs"])
    def test_out_of_subset_inter_rejected(self, feature):
        from sparksketch.h264 import decode_gop
        nals, pps = self._out_of_subset(feature)
        sps, _, _, _ = _cfg(16, 16)
        match = {"b_slice": "B slices", "weighted": "weighted prediction",
                 "two_refs": "multiple reference pictures"}[feature]
        with pytest.raises(NotImplementedError, match=match):
            decode_gop(nals, sps, pps)

    def test_truncated_pcm_rejected(self):
        rgb = _noise(16, 16, 6)
        sps, pps, _, _ = _cfg(16, 16)
        nal = encode_iframe(rgb, pcm_mad=0.0)
        with pytest.raises(ValueError):
            decode_iframe(nal[:40], sps, pps)


class TestMp4Glue:
    def test_sample_roundtrip_through_container(self):
        frames_rgb = [_gradient(32, 48, seed=8 * f) for f in range(3)]
        samples = [avc_sample([encode_iframe(f, pcm_mad=5.0)])
                   for f in frames_rgb]
        blob = build_mp4(samples, 48, 32, fps=10.0, sync_every=1,
                         deblocking_control=True)
        track = parse_mp4(blob)["tracks"][0]
        assert track["avcc_raw"]
        plan = mp4_frame_plan(blob, every_ms=100)
        assert [p[0] for p in plan] == [0, 1, 2]
        for idx, _, off, size in plan:
            out = decode_avc_sample(blob[off:off + size],
                                    track["avcc_raw"])
            direct = decode_iframe(
                encode_iframe(frames_rgb[idx], pcm_mad=5.0),
                parse_sps(track["avcc"]["sps"][0]),
                parse_pps(track["avcc"]["pps"][0]))
            assert np.array_equal(out, direct)

    def test_sample_without_slice_rejected(self):
        with pytest.raises(ValueError, match="no coded slice"):
            decode_avc_sample(
                avc_sample([encode_sps(16, 16)]),
                build_avcc(encode_sps(16, 16),
                           encode_pps(deblocking_control=True)))


class TestDriverStreamsGolden:
    """sha256 of the bitstreams ``h264_frame_features`` encodes (its
    per-frame IDR slices and its I/P GOP) for three clips, recorded
    before the B-slice, weighted-prediction and multi-reference code was
    deleted: the encoder that remains emits the same bytes."""
    DIGESTS = {
        0: ("3eadd7c280686e3686002e230ab139366b756ce1af3feef1cdb46f2fc8a25f39",
            "04b80e9012cd3d11cae83aceeedc05e12338f9b71ce44f37a09d5fdd7c4a2d4d"),
        7: ("a0edb4988fa8297d3ab50d7abc813c586663c2826e8a58e1dd87edf1a8458717",
            "d93a6c892b5a77c7a05ad28ee3962c32248da1ce7b09677ee38906b5603ec1bc"),
        13: ("eca24cb44eafdcd95fd8628c86fd6c1eafb0e1514e58132931fe1b6849d95862",
             "829caf336ffc0486d8a2665247df40579491801be1d324ad1c5bf1d47735949b"),
    }

    @pytest.mark.parametrize("mid", sorted(DIGESTS))
    def test_driver_streams_unchanged(self, mid):
        from sparksketch.h264 import encode_gop
        from sparksketch.multimodal import _h264_clip
        frames, _ = _h264_clip(mid)
        intra = avc_sample([encode_iframe(fr, pcm_mad=3.0) for fr in frames])
        gop = avc_sample(encode_gop(frames, qp=26, pcm_mad=3.0))
        assert (hashlib.sha256(intra).hexdigest(),
                hashlib.sha256(gop).hexdigest()) == self.DIGESTS[mid]


class TestDistributedTier:
    def test_h264_frame_features(self, spark):
        from sparksketch.multimodal import h264_frame_features
        pdf = (h264_frame_features(spark, n=6, every_ms=200)
               .toPandas().sort_values(["media_id", "frame_idx"]))
        # 4-frame 10 fps clip (400 ms), sampled every 200 ms -> 0 and 2
        assert list(pdf.frame_idx) == [0, 2] * 6
        assert list(pdf.ts_ms) == [0, 200] * 6
        assert pdf.means_ok.all()       # decoded means match the ramp
        assert pdf.compressed.all()     # predicted MBs actually engaged
