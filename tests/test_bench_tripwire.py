"""Tripwire-baseline semantics (bench.py): a slow run must never
silently raise the baseline, and host-speed normalization must turn
the documented two-state host oscillation into arithmetic.

These are pure-function tests — no SparkSession. They pin the fix for
the r10 verdict's #1 finding: bench.py used to overwrite the
BENCH_BASELINE_sf*.json sidecar with every run's values, so a real
regression was flagged once and then absorbed (commit 0b40f17 is the
hand-revert that proved the flaw).
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import find_regressions, merge_baseline


class TestMergeBaseline:
    def test_slow_run_cannot_raise_baseline(self):
        """THE ratchet fix: a synthetic slow run (every query 2×
        slower) merged into a fast baseline keeps the fast values."""
        old = {
            "sf": 0.1,
            "queries": {"q1": 1.0, "q2": 0.5},
            "host_speed_index": 0.65,
        }
        slow_run = {"q1": 2.0, "q2": 1.0}
        merged = merge_baseline(
            old, 0.1, slow_run, host_speed_index=0.9, host_membw_index=0.08
        )
        assert merged["queries"] == {"q1": 1.0, "q2": 0.5}
        # host_speed_index also keeps its minimum (fastest host state)
        assert merged["host_speed_index"] == 0.65
        assert merged["host_membw_index"] == 0.08

    def test_fast_run_lowers_baseline(self):
        old = {"sf": 0.1, "queries": {"q1": 1.0, "q2": 0.5}}
        fast_run = {"q1": 0.8, "q2": 0.6}
        merged = merge_baseline(old, 0.1, fast_run, host_speed_index=0.6)
        assert merged["queries"] == {"q1": 0.8, "q2": 0.5}
        assert merged["host_speed_index"] == 0.6

    def test_new_query_enters_dropped_query_leaves(self):
        old = {"sf": 0.1, "queries": {"gone": 1.0, "kept": 2.0}}
        run = {"kept": 2.5, "new": 3.0}
        merged = merge_baseline(old, 0.1, run)
        assert merged["queries"] == {"kept": 2.0, "new": 3.0}
        assert "gone" not in merged["queries"]

    def test_rebaseline_replaces_outright(self):
        """--rebaseline is the one deliberate path to a slower
        baseline (e.g. a correctness fix that costs latency)."""
        old = {"sf": 0.1, "queries": {"q1": 1.0}, "host_speed_index": 0.5}
        merged = merge_baseline(
            old, 0.1, {"q1": 2.0}, host_speed_index=0.9, rebaseline=True
        )
        assert merged["queries"] == {"q1": 2.0}
        assert merged["host_speed_index"] == 0.9

    def test_error_entries_excluded(self):
        """A query that errored (dict value) must not poison the
        sidecar with a non-numeric entry."""
        merged = merge_baseline(None, 0.1, {"ok": 1.0, "bad": {"err": "x"}})
        assert merged["queries"] == {"ok": 1.0}

    def test_no_prior_baseline(self):
        merged = merge_baseline(None, 0.01, {"q": 1.5}, host_speed_index=0.7)
        assert merged == {
            "sf": 0.01,
            "queries": {"q": 1.5},
            "host_speed_index": 0.7,
        }

    def test_round_trips_through_json(self):
        merged = merge_baseline(None, 0.1, {"q": 1.5}, host_speed_index=0.7)
        assert json.loads(json.dumps(merged)) == merged


class TestSpeedNormalizedTripwire:
    def test_slow_host_does_not_flag(self):
        """Host running 1.6× slower (speed_ratio 1.6): an unchanged
        query appears 1.6× slower but must not trip at ratio=1.5."""
        prior = {"q": 2.0}
        current = {"q": 3.2}  # 1.6x raw, 1.0x speed-adjusted
        assert find_regressions(prior, current, speed_ratio=1.6) == {}

    def test_real_regression_still_flags_on_slow_host(self):
        """A genuine 3× regression on a 1.6×-slow host is still 1.9×
        adjusted — flagged, with both raw and adjusted values."""
        prior = {"q": 2.0}
        current = {"q": 6.0}
        flags = find_regressions(prior, current, speed_ratio=1.6)
        assert "q" in flags
        assert flags["q"]["now_sec"] == 6.0
        assert flags["q"]["now_sec_speed_adjusted"] == 3.75

    def test_default_speed_ratio_is_identity(self):
        prior = {"q": 1.0}
        current = {"q": 1.6}
        assert "q" in find_regressions(prior, current)
        assert "q" in find_regressions(prior, current, speed_ratio=0)  # guard

    def test_min_sec_floor_uses_raw_latency(self):
        # sub-second now_sec never flags regardless of ratio
        assert find_regressions({"q": 0.1}, {"q": 0.9}) == {}

    def test_committed_sidecars_are_minimal_format(self):
        """The committed sidecars must be the minimal merge_baseline
        shape (sf / queries / host_speed_index), not a full result
        dump — full dumps were the ratchet's delivery vehicle."""
        here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        for name in ("BENCH_BASELINE_sf0.1.json", "BENCH_BASELINE_sf0.001.json"):
            path = os.path.join(here, name)
            if not os.path.exists(path):
                continue
            with open(path) as fh:
                side = json.load(fh)
            assert set(side) <= {
                "sf", "queries", "host_speed_index", "host_membw_index"
            }, name
            assert all(
                isinstance(v, (int, float)) for v in side["queries"].values()
            ), name


class TestAdjudicateFlags:
    """VERDICT r11 task #1: the tripwire's flags self-adjudicate via a
    solo best-of-4 re-measure — planted in-pass slowdown with a clean
    solo re-measure reads "contention"; a planted real slowdown reads
    "real"; a query that errors on every solo repeat reads "error"."""

    def _flag(self, prior, now):
        from bench import find_regressions

        flags = find_regressions({"q": prior}, {"q": now})
        assert "q" in flags
        return flags

    def test_in_pass_contention_clears(self):
        from bench import adjudicate_flags

        flags = self._flag(2.0, 6.0)  # 3x in-pass: flagged
        # solo re-measure is back at baseline -> the slowdown was load
        # that arrived during the pass
        out = adjudicate_flags(
            flags, {"q": 2.0}, lambda name: (2.1, 5.0), solo_repeats=4
        )
        assert out["q"]["verdict"] == "contention"
        assert out["q"]["solo_sec"] == 2.1
        assert out["q"]["in_pass_sec"] == 6.0

    def test_real_regression_confirmed(self):
        from bench import adjudicate_flags

        flags = self._flag(2.0, 6.0)
        out = adjudicate_flags(flags, {"q": 2.0}, lambda name: (5.9, 1.0))
        assert out["q"]["verdict"] == "real"

    def test_best_of_n_takes_minimum(self):
        """One clean repeat among contended ones decides the verdict:
        the minimum is the contention-free estimate."""
        from bench import adjudicate_flags

        flags = self._flag(2.0, 6.0)
        seq = iter([(6.2, 9.0), (5.8, 9.0), (2.0, 3.0), (6.1, 9.0)])
        out = adjudicate_flags(flags, {"q": 2.0}, lambda name: next(seq))
        assert out["q"]["verdict"] == "contention"
        assert out["q"]["solo_sec"] == 2.0
        assert out["q"]["solo_load1"] == 3.0

    def test_adjudication_speed_ratio_normalizes(self):
        """Contention STILL present at adjudication time: the freshly
        sampled host kernels see it and the division absorbs it —
        solo 4.5s on a 1.6x-slow host is 2.8s adjusted, under
        1.5 x 2.0."""
        from bench import adjudicate_flags

        flags = self._flag(2.0, 6.0)
        out = adjudicate_flags(
            flags, {"q": 2.0}, lambda name: (4.5, 12.0), speed_ratio=1.6
        )
        assert out["q"]["verdict"] == "contention"
        assert out["q"]["solo_sec_speed_adjusted"] == 2.812

    def test_all_repeats_error_is_loud(self):
        from bench import adjudicate_flags

        flags = self._flag(2.0, 6.0)
        out = adjudicate_flags(flags, {"q": 2.0}, lambda name: (None, 9.0))
        assert out["q"]["verdict"] == "error"
        assert out["q"]["solo_sec"] is None

    def test_flag_records_carry_load_delta_fields(self):
        """Task #6: a flag raised with loads carries load1_at_measure;
        main() augments it with the delta vs pass start (pinned here
        by reproducing the arithmetic)."""
        from bench import find_regressions

        flags = find_regressions(
            {"q": 2.0}, {"q": 6.0}, loads={"q": 11.5}
        )
        assert flags["q"]["load1_at_measure"] == 11.5
        # the delta main() records: measure-time load minus pass-start
        assert round(flags["q"]["load1_at_measure"] - 9.7, 2) == 1.8


class TestDivergentKernels:
    """r14 (VERDICT r13 #2): when the CPU and membw host kernels
    diverge, a single capped scalar can over-normalize CPU-bound
    queries and silently clear real regressions. The pass is declared
    non-adjudicable, the near-threshold band is solo re-measured, and
    verdicts use interval arithmetic on the UNCAPPED kernel bounds."""

    # the r13 driver-pass host state: cpu 1.38, membw 4.40 -> the
    # scalar tripwire divides everything by the 2.0 cap
    CPU, MEMBW = 1.38, 4.40
    CAP = 2.0

    def test_kernel_divergence_arithmetic(self):
        from bench import KERNEL_DIVERGENCE_BOUND, kernel_divergence

        assert kernel_divergence(1.38, 4.40) == round(4.40 / 1.38, 4)
        assert kernel_divergence(1.0, 1.0) == 1.0
        assert kernel_divergence(4.4, 1.38) == kernel_divergence(1.38, 4.4)
        assert kernel_divergence(None, 4.4) is None
        assert kernel_divergence(0.0, 4.4) is None
        assert KERNEL_DIVERGENCE_BOUND == 1.5
        # uniform degradation (the common case) stays adjudicable
        assert kernel_divergence(1.9, 2.1) < 1.5

    def test_planted_2x_regression_on_cpu_bound_query_is_caught(self):
        """THE r13 blind-spot case, end to end at the function level:
        a genuine 2x code regression on a CPU-bound query, measured on
        the membw-degraded host (true host factor for this query is
        the CPU ratio 1.38, but the scalar normalizes by the 2.0 cap).
        The scalar tripwire misses it; the near-threshold band catches
        it; interval adjudication refuses to call it contention."""
        from bench import (
            adjudicate_flags,
            find_near_threshold,
            find_regressions,
        )

        prior = {"q_cpu": 2.0}
        # wall = prior x host(1.38) x regression(2.0)
        now = {"q_cpu": 2.0 * self.CPU * 2.0}
        speed_ratio = self.CAP  # min(2.0, max(1.38, 4.40))

        # the scalar tripwire slides it under: 5.52/2.0 = 2.76 < 3.0
        assert find_regressions(prior, now, speed_ratio=speed_ratio) == {}
        # ...but it lands in the near-threshold band (1.38x prior)
        band = find_near_threshold(prior, now, speed_ratio=speed_ratio)
        assert "q_cpu" in band
        assert band["q_cpu"]["band"] == "near_threshold_divergent_host"

        # solo re-measure on the still-degraded host; interval
        # verdict: conservative (/1.38) says 4.0x prior -> NOT
        # contention; forgiving (/4.40) says 1.25x -> NOT provably
        # real -> kept LOUD as indeterminate, never silently cleared
        out = adjudicate_flags(
            band,
            prior,
            lambda name: (now["q_cpu"], 1.0),
            ratio_bounds=(self.CPU, self.MEMBW),
        )
        assert out["q_cpu"]["verdict"] == "indeterminate_divergent_host"

    def test_clean_cpu_bound_query_never_enters_the_band(self):
        """A CLEAN CPU-bound query on the same host (wall = prior x
        1.38) is over-normalized BELOW prior by the capped scalar
        (2.76/2.0 = 0.69x) — it never enters the band, so divergence
        handling adds zero adjudication cost for clean queries."""
        from bench import find_near_threshold

        prior = {"q_cpu": 2.0}
        now = {"q_cpu": 2.0 * self.CPU}
        assert find_near_threshold(prior, now, speed_ratio=self.CAP) == {}

    def test_in_pass_contention_still_clears_under_divergence(self):
        """A flag whose solo re-measure comes back near baseline is
        contention even at the most conservative normalization —
        interval verdicts still CLEAR what deserves clearing."""
        from bench import adjudicate_flags, find_regressions

        prior = {"q": 2.0}
        flags = find_regressions(prior, {"q": 6.0}, speed_ratio=1.0)
        assert "q" in flags
        out = adjudicate_flags(
            flags,
            prior,
            lambda name: (2.1, 1.0),  # solo: back at baseline
            ratio_bounds=(self.CPU, self.MEMBW),
        )
        assert out["q"]["verdict"] == "contention"
        assert out["q"]["adjudication_ratio_bounds"] == [1.38, 4.4]

    def test_huge_regression_is_real_even_under_divergence(self):
        """Over threshold even at the most forgiving normalization
        (solo / max_ratio > 1.5x prior) -> definitely real."""
        from bench import adjudicate_flags, find_regressions

        prior = {"q": 2.0}
        now = {"q": 2.0 * self.MEMBW * 4.0}  # 4x regression, membw query
        flags = find_regressions(prior, now, speed_ratio=self.CAP)
        assert "q" in flags
        out = adjudicate_flags(
            flags,
            prior,
            lambda name: (now["q"], 1.0),
            ratio_bounds=(self.CPU, self.MEMBW),
        )
        assert out["q"]["verdict"] == "real"

    def test_band_respects_min_sec_floor(self):
        from bench import find_near_threshold

        # sub-second latencies swing with contention; keep the floor
        assert (
            find_near_threshold({"q": 0.4}, {"q": 0.56}, speed_ratio=1.0)
            == {}
        )

    def test_scalar_path_unchanged_without_bounds(self):
        """No ratio_bounds -> the pre-r14 scalar verdict logic, byte
        for byte (regression guard for the 186-query green history)."""
        from bench import adjudicate_flags, find_regressions

        flags = find_regressions({"q": 2.0}, {"q": 6.0})
        out = adjudicate_flags(flags, {"q": 2.0}, lambda name: (2.1, 5.0))
        assert out["q"]["verdict"] == "contention"
        assert "solo_sec_speed_adjusted" in out["q"]
        assert "adjudication_ratio_bounds" not in out["q"]


def test_solo_baseline_entries_rescaled_to_prepass_host():
    """Adjudication solo minima enter the baseline min-merge rescaled
    to the PRE-PASS host state — a host that recovered mid-run must
    not write an overly tight baseline."""
    from bench import solo_baseline_entries

    flags = {
        # solo measured on a recovered (faster) host: speed-adjusted
        # value is normalized to the stored-baseline host state
        "q1": {"solo_sec": 1.0, "solo_sec_speed_adjusted": 1.2},
        # no speed adjustment recorded -> falls back to raw solo
        "q2": {"solo_sec": 2.0},
        # error verdict -> contributes nothing
        "q3": {"solo_sec": None},
    }
    ok = {"q1": 5.0, "q2": 1.5}
    # pre-pass host ran 1.25x slower than the stored baseline
    got = solo_baseline_entries(flags, ok, speed_ratio=1.25)
    assert got["q1"] == pytest.approx(1.5)  # 1.2 * 1.25, < in-pass 5.0
    assert got["q2"] == pytest.approx(1.5)  # min(in-pass 1.5, 2.0*1.25)
    assert "q3" not in got
    # raw solo (1.0) would have been tighter than the rescaled 1.5 —
    # exactly the over-tight entry the fix prevents
    assert got["q1"] > flags["q1"]["solo_sec"]
