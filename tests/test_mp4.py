"""H.264 parameter sets and MP4 container glue (sparksketch/mp4.py): SPS
encode/parse, RBSP emulation prevention, avcC, and sample-table
validation."""

import struct

import pytest


class TestSpsLayer:
    DIMS = [(16, 16), (160, 96), (158, 94), (354, 266), (1920, 1080),
            (640, 358), (3840, 2160), (18, 10)]

    def test_encode_parse_roundtrip_matrix(self):
        from sparksketch.mp4 import encode_sps, parse_sps
        for (w, h) in self.DIMS:
            for fps in (None, 10.0, 29.5):
                info = parse_sps(encode_sps(w, h, fps=fps))
                assert (info["width"], info["height"]) == (w, h)
                if fps is None:
                    assert info["fps"] is None
                else:
                    assert abs(info["fps"] - fps) < 1e-9
                assert info["profile_idc"] == 66

    def test_emulation_prevention_roundtrip(self):
        """An SPS whose raw RBSP contains 00 00 0x runs must round-trip
        through the escape/unescape pair."""
        from sparksketch.mp4 import _BitWriter, _unescape_rbsp
        w = _BitWriter()
        w.u(0, 22)  # force a 00 00 0... pattern
        w.u(1, 1)
        w.u(0, 30)
        w.u(5, 8)
        esc = w.rbsp()
        assert b"\x00\x00\x03" in esc  # escaping actually engaged
        # recompute the expected RAW rbsp (same bits + stop bit + pad)
        bits = [0] * 22 + [1] + [0] * 30 + [0, 0, 0, 0, 0, 1, 0, 1] + [1]
        while len(bits) % 8:
            bits.append(0)
        want = bytes(sum(b << (7 - i) for i, b in enumerate(bits[o:o + 8]))
                     for o in range(0, len(bits), 8))
        assert _unescape_rbsp(esc) == want

    def test_odd_dims_rejected(self):
        from sparksketch.mp4 import encode_sps
        with pytest.raises(ValueError, match="even"):
            encode_sps(17, 16)

    def test_avcc_roundtrip(self):
        from sparksketch.mp4 import (build_avcc, encode_pps, encode_sps,
                                     parse_avcc)
        sps, pps = encode_sps(352, 288, fps=25.0), encode_pps()
        cfg = parse_avcc(build_avcc(sps, pps))
        assert cfg["sps"] == [sps] and cfg["pps"] == [pps]
        assert cfg["nal_length_size"] == 4

    def test_build_mp4_sps_vs_container(self):
        """The fixture MP4 deliberately declares 16-rounded dims in stsd
        while the SPS holds the true dims — the parser must surface
        both."""
        from sparksketch.mp4 import build_mp4, parse_mp4
        blob = build_mp4([b"x" * 40, b"y" * 44], 354, 266, fps=15.0)
        t = parse_mp4(blob)["tracks"][0]
        assert (t["width"], t["height"]) == (368, 272)
        assert (t["sps"]["width"], t["sps"]["height"]) == (354, 266)
        assert abs(t["sps"]["fps"] - 15.0) < 1e-9

    def test_frame_plan_extent_validation(self):
        """ADVICE r04: truncated mdat must raise, not yield empty
        frames."""
        from sparksketch.mp4 import build_mp4, mp4_frame_plan
        blob = build_mp4([b"x" * 40, b"y" * 44], 160, 96, fps=10.0)
        # chop the tail of mdat: moov survives (it's at the end), so
        # rebuild with moov first is impossible — instead corrupt stco
        # by pointing the chunk past EOF via truncating... simpler:
        # shrink the payload the plan slices from
        plan_ok = mp4_frame_plan(blob, every_ms=100)
        assert plan_ok
        # forge a too-large stsz entry: find the first frame size (40)
        bad = blob.replace(struct.pack(">I", 40),
                           struct.pack(">I", 1 << 24), 1)
        with pytest.raises(ValueError, match="exceed payload"):
            mp4_frame_plan(bad, every_ms=100)

    def test_stss_out_of_range_raises(self):
        from sparksketch.mp4 import build_mp4, parse_mp4
        blob = build_mp4([b"x" * 40, b"y" * 44], 160, 96, fps=10.0)
        # stss entries are 1-based sample numbers {1}; forge sample 9
        marker = struct.pack(">4sI", b"stss", 0)  # not the layout; locate
        idx = blob.find(b"stss")
        assert idx > 0
        bad = bytearray(blob)
        # stss box: [size][stss][ver+flags][count][entry1 ...]
        count_off = idx + 4 + 4
        n = struct.unpack_from(">I", bad, count_off)[0]
        struct.pack_into(">I", bad, count_off + 4, 9)  # sample 9 of 2
        with pytest.raises(ValueError, match="stss sync sample"):
            parse_mp4(bytes(bad))

    def test_video_sps_features_distributed(self, spark):
        from sparksketch.multimodal import video_sps_features
        rows = {r.media_id: r for r in
                video_sps_features(spark, n=12).collect()}
        assert len(rows) == 12
        for mid, r in rows.items():
            assert r.sps_width == 160 + 16 * (mid % 4) - 2 * (mid % 3)
            assert r.sps_height == 96 + 16 * (mid % 5) - 2 * (mid % 2)
            assert r.container_width == 160 + 16 * (mid % 4)
            assert r.container_differs == (mid % 3 != 0 or mid % 2 != 0)
