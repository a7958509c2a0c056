"""bench.py's round selection: the scaling efficiency it reports is the
median over rounds that pass its steal, spread, floor and hardware-ceiling
bars, so that logic gets unit coverage."""


class TestBenchEstimator:
    """bench.py is gate-critical this round: the north rule is graded on
    the number its estimator emits, so the round-selection logic gets the
    same unit coverage as library code."""

    @staticmethod
    def _round(rep, steal_lo=0.0, steal_hi=0.0, hw=0.9, eff=0.9,
               spread_lo=1.0, spread_hi=1.0, t_lo=12.0, t_hi=4.0):
        return {"rep": rep, "steal_lo": steal_lo, "steal_hi": steal_hi,
                "hw_ceiling": hw, "eff": eff,
                "spread_lo": spread_lo, "spread_hi": spread_hi,
                "t_lo": t_lo, "t_hi": t_hi}

    def test_stolen_and_contended_rounds_dropped(self):
        import bench
        rounds = [
            self._round(0, eff=0.95, hw=0.9),
            self._round(1, eff=0.40, steal_hi=7.0),   # stolen
            self._round(2, eff=0.35, hw=0.5),          # window can't scale
            self._round(3, eff=0.88, hw=0.85),
        ]
        clean, bar, spread_bar, floor_bar, hw_bar = bench.select_clean_rounds(rounds)
        assert [r["rep"] for r in clean] == [0, 3]
        assert bar == bench.STEAL_BAR_PCT and hw_bar == bench.HW_CEILING_BAR
        assert spread_bar == bench.SPREAD_BAR

    def test_bars_relax_rather_than_return_one_round(self):
        import bench
        # only one round passes the strict bars -> steal bar relaxes to 5%
        rounds = [
            self._round(0, eff=0.9, steal_lo=3.0),
            self._round(1, eff=0.85, steal_hi=4.5),
            self._round(2, eff=0.95),
        ]
        clean, bar, spread_bar, floor_bar, hw_bar = bench.select_clean_rounds(rounds)
        assert len(clean) == 3 and bar == 5.0

    def test_hw_bar_relaxes_last(self):
        import bench
        rounds = [self._round(i, eff=0.8, hw=0.3) for i in range(3)]
        clean, bar, spread_bar, floor_bar, hw_bar = bench.select_clean_rounds(rounds)
        assert len(clean) == 3 and hw_bar == 0.0

    def test_all_stolen_falls_back_to_everything(self):
        import bench
        rounds = [self._round(0, steal_lo=50.0, hw=0.2)]
        clean, bar, spread_bar, floor_bar, hw_bar = bench.select_clean_rounds(rounds)
        assert clean == rounds

    def test_disrupted_child_dropped_by_spread(self):
        """A child whose two best passes disagree >25% was disrupted
        mid-run (observed: 5 s and 44 s passes with steal 0.0 and hw
        ceiling ~1.0) — the round is excluded while bars are strict."""
        import bench
        rounds = [
            self._round(0, eff=0.9),
            self._round(1, eff=0.4, spread_hi=8.3),   # disrupted hi child
            self._round(2, eff=0.88, spread_lo=1.1),
        ]
        clean, bar, spread_bar, floor_bar, hw_bar = bench.select_clean_rounds(rounds)
        assert [r["rep"] for r in clean] == [0, 2]
        assert spread_bar == bench.SPREAD_BAR

    def test_spread_bar_relaxes_when_needed(self):
        import bench
        rounds = [self._round(i, eff=0.8, spread_lo=2.0) for i in range(3)]
        clean, bar, spread_bar, floor_bar, hw_bar = bench.select_clean_rounds(rounds)
        assert len(clean) == 3 and spread_bar == float("inf")

    def test_uniformly_degraded_window_dropped_by_floor(self):
        """r5 failure mode: a hi child whose whole window clustered ~25%
        above the floor its siblings demonstrated at the same level, with
        steal 0.0, spread 1.09 and NumPy calibration within 2% of peers.
        The floor bar drops it; and symmetrically drops a slow-LO round
        even though that round's ratio is flatteringly HIGH."""
        import bench
        rounds = [
            self._round(0, eff=0.73, t_lo=13.5, t_hi=4.62),  # slow hi
            self._round(1, eff=0.80, t_lo=13.2, t_hi=4.12),
            self._round(2, eff=0.81, t_lo=12.3, t_hi=3.78),
            self._round(3, eff=0.80, t_lo=12.3, t_hi=3.87),
            self._round(4, eff=0.95, t_lo=14.9, t_hi=3.92),  # slow lo, high eff
        ]
        clean, bar, spread_bar, floor_bar, hw_bar = \
            bench.select_clean_rounds(rounds)
        assert [r["rep"] for r in clean] == [1, 2, 3]
        assert floor_bar == bench.FLOOR_BAR

    def test_floor_bar_relaxes_before_hw_bar(self):
        import bench
        # every round >10% above another's floor at some level, hw fine
        rounds = [
            self._round(0, t_lo=10.0, t_hi=5.0),
            self._round(1, t_lo=14.0, t_hi=3.0),
        ]
        clean, bar, spread_bar, floor_bar, hw_bar = \
            bench.select_clean_rounds(rounds)
        assert len(clean) == 2
        assert floor_bar == float("inf")
        assert hw_bar == bench.HW_CEILING_BAR

    def test_pin_spec_counts_cpus(self):
        import bench
        assert bench._pin_spec(1) == "0"
        assert bench._pin_spec(4) == "0-3"
        assert bench._pin_spec(32) == "0-31"
