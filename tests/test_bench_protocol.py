"""Guards on the bench stdout protocol and the README prose counts.

The round driver records a 2000-byte TAIL of bench.py's stdout; a
protocol line longer than that loses its head (and the opening brace),
so ``json.loads`` fails and BENCH_r{N}.json carries ``"parsed": null``
— which is exactly what happened every round from r02 through r06.
These tests pin the <=1900-byte budget against a realistic worst case
so the regression class cannot recur silently.

The README-counts test ends the "prose counts drift" class the r5 and
r6 verdicts both flagged: the canonical registry/oracle counts in
README.md are marked with ``<!-- counts:registry``, and this test
fails whenever the stated numbers diverge from ``len(QUERIES)`` /
``len(ORACLES)``.
"""

from __future__ import annotations

import json
import os
import re

import bench
from servihabitat_etl_spyke_spark.queries import ORACLES, QUERIES

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _worst_case_out() -> dict:
    """A protocol dict at least as large as any realistic round: every
    headline query in the top-5 pool with max-width timings, every
    bookkeeping field populated, and pathological regression/retry
    lists (every headline name at once)."""
    names = list(bench.HEADLINE)
    timings = {n: 123456.789 for n in names}
    top5 = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5])
    return {
        "metric": "headline_queries_total_runtime",
        "value": 123456789.123,
        "unit": "sec",
        "queries": top5,
        "queries_total": len(timings),
        "queries_full_in": "BENCH_DETAIL.json",
        "sf": 0.1,
        "gated_by_retry": names,
        "noise_factor": 12.34,
        "environment": {"loadavg_at_start": 123.45,
                        "loadavg_at_window": 123.45,
                        "canary_sec": 123.456,
                        "canary_end_sec": 123.456,
                        "canary_pin_generation": 2,
                        "worker_warmup_sec": 123.456,
                        "worker_probe_sec": 123.456,
                        "steal_pct_at_start": 1234.5},
        "baseline_round": "r06",
        "median_delta_vs_baseline": 123.45,
        "median_delta_vs_baseline_noise_adj": 123.45,
        "regressions_over_2x": names,
        "flag_canary_factors": {n: 123.45 for n in names},
        "median_delta_vs_prev_round": 123.45,
        "headline_missing_from_registry": names[:5],
        "window_waited_sec": 123456,
        "window_wait_exhausted": True,
        "noise_factor_end": 123.45,
        "window_degraded": True,
    }


def test_protocol_line_fits_driver_tail_worst_case():
    line = bench._protocol_line(_worst_case_out())
    assert len(line) <= bench.LINE_BUDGET, (
        f"protocol line {len(line)}B exceeds the {bench.LINE_BUDGET}B "
        "budget (driver tail is 2000B — the head would be cut and "
        "BENCH_r*.json would carry parsed:null again)")
    parsed = json.loads(line)
    # thinning must be explicit, never silent
    assert parsed["regressions_over_2x_count"] == len(bench.HEADLINE)
    assert parsed["regressions_truncated"] is True
    assert parsed["queries_total"] == len(bench.HEADLINE)


def test_protocol_line_pathological_missing_list_floors_to_core():
    """Even a round where EVERY headline name went missing from the
    registry (the largest possible optional field) must emit a line
    inside the budget — the last-resort core floor guarantees it."""
    out = _worst_case_out()
    out["headline_missing_from_registry"] = list(bench.HEADLINE)
    line = bench._protocol_line(out)
    assert len(line) <= bench.LINE_BUDGET
    parsed = json.loads(line)
    # either the truncated-lists form or the core floor — both carry
    # the headline metric and the truncation is explicit
    assert parsed["metric"] == "headline_queries_total_runtime"
    assert parsed["value"] == out["value"]
    if "thinned_to_core" not in parsed:
        assert parsed.get("headline_missing_count") == len(bench.HEADLINE)


def test_protocol_line_core_floor_is_always_under_budget():
    """The core floor itself (every field at max width) must fit with
    room to spare — it is the invariant the whole ladder rests on."""
    out = _worst_case_out()
    # force the floor by blowing every earlier thinning step
    out["some_future_giant_field"] = "x" * 5000
    line = bench._protocol_line(out)
    assert len(line) <= bench.LINE_BUDGET
    parsed = json.loads(line)
    assert parsed["thinned_to_core"] is True
    assert parsed["queries_full_in"] == "BENCH_DETAIL.json"
    # the regression-gate signal survives the floor as a count
    assert parsed["regressions_over_2x_count"] == len(bench.HEADLINE)


def test_protocol_line_typical_round_not_thinned():
    out = _worst_case_out()
    out["regressions_over_2x"] = []
    # main() only attaches flag_canary_factors when flags survive
    out.pop("flag_canary_factors")
    out["gated_by_retry"] = ["text_line_filter"]
    out.pop("headline_missing_from_registry")
    line = bench._protocol_line(out)
    assert len(line) <= bench.LINE_BUDGET
    parsed = json.loads(line)
    # a quiet round keeps its top-5 dict and full (tiny) lists intact
    assert len(parsed["queries"]) == 5
    assert "regressions_truncated" not in parsed
    assert parsed["gated_by_retry"] == ["text_line_filter"]


def test_protocol_line_thins_movers_before_dropping_queries():
    """r12: the queries dict may carry up to 15 round-over-round movers
    on top of the top-5-by-cost contract. Over budget, the movers thin
    FIRST (back to the exact 5 slowest, marked explicitly); the dict
    only empties if even top-5 cannot fit."""
    out = _worst_case_out()
    out["queries"] = {f"mover_query_with_a_long_name_{i:02d}": 1.0 + i
                      for i in range(20)}
    line = bench._protocol_line(out)
    assert len(line) <= bench.LINE_BUDGET
    parsed = json.loads(line)
    # the thinned branch must actually be taken: top-5 fits the budget
    assert parsed["queries"]
    assert len(parsed["queries"]) == 5
    assert parsed["queries_movers_thinned"] is True
    # the survivors are the 5 SLOWEST, not an arbitrary subset
    assert set(parsed["queries"]) == {
        f"mover_query_with_a_long_name_{i:02d}" for i in range(15, 20)}


def test_movers_skip_sub_floor_timings():
    """A 3x move between two tiny timings is scheduler noise and never
    a mover; a 2x move on a query past the floor is."""
    prev = {"tiny": 0.01, "real": 1.0, "gone": 5.0}
    now = {"tiny": 0.03, "real": 2.0, "new": 4.0}
    assert bench._movers(now, prev) == ["real"]
    assert bench._movers({"a": 0.19}, {"a": 0.21}) == ["a"]


def test_regression_gate_rule():
    """r8 gate rule (VERDICT r7 #6): flagged iff t > max(2*pin,
    pin+0.5s) — pure 2x for pins >= 0.5 s, absolute +0.5 s allowance
    below (r7 flagged two ~0.13 s sheet queries at 2.2-2.8x on
    scheduler hiccups alone). No pin -> never flagged here."""
    assert not bench._over_gate(0.39, 0.13)      # 3x a tiny pin: allowed
    assert bench._over_gate(0.64, 0.13)          # past pin+0.5: flagged
    assert bench._over_gate(2.1, 1.0)            # classic 2x breach
    assert not bench._over_gate(1.9, 1.0)
    assert not bench._over_gate(1.2, 0.61)       # <2x, pin >= 0.5
    assert not bench._over_gate(99.0, None)      # unpinned: no gate
    assert not bench._over_gate(99.0, 0.0)


def test_quiet_window_wait_contract():
    """The canary gate waits in 60 s steps only at the pin's SF, stamps
    how long it waited, and reports exhaustion instead of looping
    forever. Exercised against a stub canary + stub steal sample +
    stub loadavg so no Spark (and no real sleeping) is needed."""
    readings = iter([2.0 * bench.CANARY_PIN_SEC,
                     1.5 * bench.CANARY_PIN_SEC,
                     1.05 * bench.CANARY_PIN_SEC])
    slept = []
    orig_canary, orig_sleep = bench._canary_seconds, bench.time.sleep
    orig_steal = bench._steal_pct_sample
    orig_load = bench._loadavg_1m
    bench._canary_seconds = lambda spark: next(readings)
    bench._steal_pct_sample = lambda window_sec=0: 0.0
    bench._loadavg_1m = lambda: 0.5
    bench.time.sleep = lambda s: slept.append(s)
    try:
        canary, steal, load, waited, exhausted = \
            bench._wait_for_quiet_window(None)
    finally:
        bench._canary_seconds, bench.time.sleep = orig_canary, orig_sleep
        bench._steal_pct_sample = orig_steal
        bench._loadavg_1m = orig_load
    assert not exhausted and waited == sum(slept) == 120
    assert canary <= bench.WINDOW_GATE * bench.CANARY_PIN_SEC
    assert steal == 0.0 and load == 0.5

    # budget exhaustion: the canary never quiets -> give up after the
    # budget, say so
    bench._canary_seconds = lambda spark: 3.0 * bench.CANARY_PIN_SEC
    bench._steal_pct_sample = lambda window_sec=0: 0.0
    bench._loadavg_1m = lambda: 0.5
    bench.time.sleep = lambda s: slept.append(s)
    try:
        canary, steal, load, waited, exhausted = \
            bench._wait_for_quiet_window(None)
    finally:
        bench._canary_seconds, bench.time.sleep = orig_canary, orig_sleep
        bench._steal_pct_sample = orig_steal
        bench._loadavg_1m = orig_load
    assert exhausted and waited == bench.WINDOW_WAIT_BUDGET_SEC

    # a missing canary table (custom SF layout) skips the wait outright
    bench._canary_seconds = lambda spark: None
    try:
        canary, steal, load, waited, exhausted = \
            bench._wait_for_quiet_window(None)
    finally:
        bench._canary_seconds = orig_canary
    assert canary is None and waited == 0 and not exhausted


def test_quiet_window_also_gates_on_steal():
    """r10 (VERDICT r9 #2): a QUIET canary under HIGH host steal must
    not open the window — the 0.2 s min-of-5 canary dodges the
    multi-second bursts that inflate real queries (the official r9 run
    started at 42.8% steal with a 1.02 canary). The wait holds until
    the direct steal sample reads <= STEAL_QUIET_PCT; a None steal
    sample (no /proc/stat steal column) degrades to canary-only."""
    steal_readings = iter([42.8, 31.0, 4.0])
    slept = []
    orig_canary, orig_sleep = bench._canary_seconds, bench.time.sleep
    orig_steal = bench._steal_pct_sample
    orig_load = bench._loadavg_1m
    bench._canary_seconds = lambda spark: 1.02 * bench.CANARY_PIN_SEC
    bench._steal_pct_sample = lambda window_sec=0: next(steal_readings)
    bench._loadavg_1m = lambda: 0.5
    bench.time.sleep = lambda s: slept.append(s)
    try:
        canary, steal, load, waited, exhausted = \
            bench._wait_for_quiet_window(None)
    finally:
        bench._canary_seconds, bench.time.sleep = orig_canary, orig_sleep
        bench._steal_pct_sample = orig_steal
        bench._loadavg_1m = orig_load
    assert not exhausted and waited == sum(slept) == 120
    assert steal == 4.0 <= bench.STEAL_QUIET_PCT

    # canary-only fallback: no steal column anywhere -> quiet canary
    # (and quiet loadavg) opens the window immediately
    bench._canary_seconds = lambda spark: 1.02 * bench.CANARY_PIN_SEC
    bench._steal_pct_sample = lambda window_sec=0: None
    bench._loadavg_1m = lambda: 0.5
    bench.time.sleep = lambda s: slept.append(s)
    try:
        canary, steal, load, waited, exhausted = \
            bench._wait_for_quiet_window(None)
    finally:
        bench._canary_seconds, bench.time.sleep = orig_canary, orig_sleep
        bench._steal_pct_sample = orig_steal
        bench._loadavg_1m = orig_load
    assert not exhausted and waited == 0 and steal is None


def test_quiet_window_also_gates_on_loadavg():
    """r11 (VERDICT r10 #5): guest-side load is the one noise source
    the canary and the steal sample are structurally blind to — the
    official r10 run started at loadavg 20.19 with 0.0% steal and a
    1.07 canary. A quiet canary + quiet steal under HIGH loadavg must
    hold the window until the load decays (or the budget exhausts and
    says so); a None loadavg (no getloadavg) degrades the signal out
    of the gate."""
    load_readings = iter([20.19, 0.6 * bench.LOADAVG_QUIET])
    slept = []
    orig_canary, orig_sleep = bench._canary_seconds, bench.time.sleep
    orig_steal = bench._steal_pct_sample
    orig_load = bench._loadavg_1m
    bench._canary_seconds = lambda spark: 1.02 * bench.CANARY_PIN_SEC
    bench._steal_pct_sample = lambda window_sec=0: 0.0
    bench._loadavg_1m = lambda: next(load_readings)
    bench.time.sleep = lambda s: slept.append(s)
    try:
        canary, steal, load, waited, exhausted = \
            bench._wait_for_quiet_window(None)
    finally:
        bench._canary_seconds, bench.time.sleep = orig_canary, orig_sleep
        bench._steal_pct_sample = orig_steal
        bench._loadavg_1m = orig_load
    assert not exhausted and waited == sum(slept) == 60
    assert load == 0.6 * bench.LOADAVG_QUIET <= bench.LOADAVG_QUIET

    # sustained guest load exhausts the budget and SAYS so — the
    # protocol-line invariant 'quiet start or window_wait_exhausted'
    bench._canary_seconds = lambda spark: 1.02 * bench.CANARY_PIN_SEC
    bench._steal_pct_sample = lambda window_sec=0: 0.0
    bench._loadavg_1m = lambda: 3.0 * bench.LOADAVG_QUIET
    bench.time.sleep = lambda s: slept.append(s)
    try:
        canary, steal, load, waited, exhausted = \
            bench._wait_for_quiet_window(None)
    finally:
        bench._canary_seconds, bench.time.sleep = orig_canary, orig_sleep
        bench._steal_pct_sample = orig_steal
        bench._loadavg_1m = orig_load
    assert exhausted and waited == bench.WINDOW_WAIT_BUDGET_SEC

    # missing loadavg (platform without getloadavg) degrades to the
    # two-signal gate, never blocks
    bench._canary_seconds = lambda spark: 1.02 * bench.CANARY_PIN_SEC
    bench._steal_pct_sample = lambda window_sec=0: 0.0
    bench._loadavg_1m = lambda: None
    try:
        canary, steal, load, waited, exhausted = \
            bench._wait_for_quiet_window(None)
    finally:
        bench._canary_seconds = orig_canary
        bench._steal_pct_sample = orig_steal
        bench._loadavg_1m = orig_load
    assert not exhausted and waited == 0 and load is None


def test_canary_vanishing_mid_wait_defers_to_the_steal_signal():
    """r10 review: if the probe table becomes unreadable mid-wait, the
    gate loses its canary but must not report a verified-quiet start —
    a fresh steal sample alone decides the exhausted marker, keeping
    the protocol-line invariant 'start steal <= 20% or
    window_wait_exhausted says the gate gave up'."""
    canaries = iter([2.0 * bench.CANARY_PIN_SEC, None])
    orig_canary, orig_sleep = bench._canary_seconds, bench.time.sleep
    orig_steal = bench._steal_pct_sample
    orig_load = bench._loadavg_1m
    bench._canary_seconds = lambda spark: next(canaries)
    bench._steal_pct_sample = lambda window_sec=0: 80.0   # still stormy
    bench._loadavg_1m = lambda: 0.5
    bench.time.sleep = lambda s: None
    try:
        canary, steal, load, waited, exhausted = \
            bench._wait_for_quiet_window(None)
    finally:
        bench._canary_seconds, bench.time.sleep = orig_canary, orig_sleep
        bench._steal_pct_sample = orig_steal
        bench._loadavg_1m = orig_load
    assert canary is None and steal == 80.0 and exhausted

    # same vanish under quiet steal + loadavg: no false alarm either
    canaries = iter([2.0 * bench.CANARY_PIN_SEC, None])
    bench._canary_seconds = lambda spark: next(canaries)
    bench._steal_pct_sample = lambda window_sec=0: 1.0
    bench._loadavg_1m = lambda: 0.5
    bench.time.sleep = lambda s: None
    try:
        canary, steal, load, waited, exhausted = \
            bench._wait_for_quiet_window(None)
    finally:
        bench._canary_seconds, bench.time.sleep = orig_canary, orig_sleep
        bench._steal_pct_sample = orig_steal
        bench._loadavg_1m = orig_load
    assert canary is None and steal == 1.0 and not exhausted

    # vanish under quiet steal but HIGH guest load (r11): the loadavg
    # signal alone must still set the exhausted marker
    canaries = iter([2.0 * bench.CANARY_PIN_SEC, None])
    bench._canary_seconds = lambda spark: next(canaries)
    bench._steal_pct_sample = lambda window_sec=0: 1.0
    bench._loadavg_1m = lambda: 3.0 * bench.LOADAVG_QUIET
    bench.time.sleep = lambda s: None
    try:
        canary, steal, load, waited, exhausted = \
            bench._wait_for_quiet_window(None)
    finally:
        bench._canary_seconds, bench.time.sleep = orig_canary, orig_sleep
        bench._steal_pct_sample = orig_steal
        bench._loadavg_1m = orig_load
    assert canary is None and load == 3.0 * bench.LOADAVG_QUIET \
        and exhausted


def test_cold_attempts_cannot_adjudicate_a_flag():
    """r10 (VERDICT r9 #1/#3): the qualifying clean-steal measurement
    behind a flag verdict must be a WARM attempt — the query's first
    attempt of the process (and the first after any wait) reads 2-3x
    its converged time even at zero steal (judge r9 re-time:
    dedup_semantic_lsh 8.87 s cold vs 3.87 s converged, steal 0.0
    throughout), so a cold attempt can neither confirm nor clear."""
    qcb = bench._qualifying_clean_best
    # the r9-flag signature: only the cold first attempt is steal-clean
    # -> NO qualifying measurement exists yet (keep adjudicating)
    assert qcb([8.87, 6.2, 5.9], [0.0, 45.0, 61.0], {0}) is None
    # a warm clean attempt qualifies; the cold one never wins the min
    assert qcb([8.87, 3.87], [0.0, 0.0], {0}) == 3.87
    # post-wait re-attempts: index 2 followed a wait -> cold; index 3
    # is the warm qualifying one
    assert qcb([9.0, 8.0, 7.5, 3.9], [50.0, 44.0, 0.0, 0.0],
               {0, 2}) == 3.9
    # steal-contaminated warm attempts still never qualify
    assert qcb([9.0, 4.0], [0.0, 35.0], {0}) is None
    # missing steal readings (no /proc/stat) degrade to cold-rule only
    assert qcb([9.0, 4.1], [None, None], {0}) == 4.1


def test_wait_steal_quiet_is_bounded_and_converges():
    orig_steal, orig_sleep = bench._steal_pct_sample, bench.time.sleep
    slept = []
    readings = iter([80.0, 30.0, 2.0])
    bench._steal_pct_sample = lambda window_sec=0: next(readings)
    bench.time.sleep = lambda s: slept.append(s)
    try:
        steal, waited, wall = bench._wait_steal_quiet(30)
    finally:
        bench._steal_pct_sample, bench.time.sleep = orig_steal, orig_sleep
    assert steal == 2.0 and waited == sum(slept) == 10
    # the wall-clock figure charges cooling AND the 2 s observation
    # window of every sample (r11, r10 ADVICE: callers charge THIS
    # against their budgets, not the cooling figure)
    assert wall == 10 + 3 * bench.STEAL_SAMPLE_SEC
    # budget bound in WALL-CLOCK terms (r10 review): each sample's 2 s
    # observation window is charged against the budget, so a 12 s
    # budget admits 8 s of cooling sleep (2+5+2+3+2 = 14 >= 12), not
    # 12 s of sleep on top of 6 s of unbilled observation
    slept.clear()
    bench._steal_pct_sample = lambda window_sec=0: 99.0
    bench.time.sleep = lambda s: slept.append(s)
    try:
        steal, waited, wall = bench._wait_steal_quiet(12)
    finally:
        bench._steal_pct_sample, bench.time.sleep = orig_steal, orig_sleep
    assert steal == 99.0 and waited == sum(slept) == 8
    assert wall == 8 + 3 * bench.STEAL_SAMPLE_SEC
    # a quiet machine never sleeps at all (the old fixed 10 s did) —
    # but its one observation window is still real wall clock
    bench._steal_pct_sample = lambda window_sec=0: 1.0
    try:
        steal, waited, wall = bench._wait_steal_quiet(30)
    finally:
        bench._steal_pct_sample = orig_steal
    assert waited == 0 and wall == bench.STEAL_SAMPLE_SEC
    # a host with NO readable steal column gets the signal-blind
    # legacy backoff (one fixed min(budget, 10) s sleep), never a
    # zero-wait re-attempt (r10 review: the pause is the whole point
    # when the signal that would justify skipping it is unreadable)
    slept.clear()
    bench._steal_pct_sample = lambda window_sec=0: None
    bench.time.sleep = lambda s: slept.append(s)
    try:
        steal, waited, wall = bench._wait_steal_quiet(30)
    finally:
        bench._steal_pct_sample, bench.time.sleep = orig_steal, orig_sleep
    assert steal is None and waited == sum(slept) == 10 and wall == 10


def test_fast_under_storm_attempts_clear_a_flag():
    """r11 (VERDICT r10 #1): contention is one-directional — steal can
    only make a query SLOWER — so a warm attempt at or under the
    regression gate (max(2x pin, pin + 0.5 s)) is valid non-regression
    evidence even at 200%+ steal. Only SLOW readings need a clean
    window: the r10 official run disqualified representative
    2.40/2.63 s attempts at 215-266% steal and let a 16.17 s slow-mode
    outlier at 13.5% steal serve as the 'warm clean best' (14x a
    1.146 s pin; the judge's re-time read 1.11 s inside a storm)."""
    qcb = bench._qualifying_clean_best
    # the r10 signature, re-pinned: with a pin whose gate the fast
    # dirty attempts clear, they qualify and WIN the min over the slow
    # clean-steal outlier
    pin = 1.86                      # gate = 3.72
    assert qcb([16.17, 2.40, 2.63], [13.5, 215.0, 266.0],
               {0}, pin) == 2.40
    # a dirty attempt OVER the gate still never qualifies — slow
    # readings need a clean window to be trusted
    assert qcb([16.17, 4.40], [13.5, 215.0], {0}, 1.86) is None
    # a COLD fast attempt under a storm still never qualifies — cold
    # attempts measure cache state in both directions
    assert qcb([2.40, 9.0], [215.0, 30.0], {0}, 1.86) is None
    # without a pin there is no gate: dirty attempts stay disqualified
    # exactly as before the rule
    assert qcb([9.0, 2.40], [0.0, 215.0], set(), None) == 9.0


def test_slow_mode_signature_selects_fresh_session_retry():
    """r11 (VERDICT r10 #6): a SURVIVING flag whose qualifying warm
    measurement exceeds 2.5x pin while the canary reads quiet carries
    the per-session worker slow-mode signature (identical plans span
    2.5-3x across sessions at zero steal) and is re-verified in a
    fresh session before it ships. Cleared flags, storm-ambiguous
    flags (stormy canary), pinless names, and ordinary-magnitude flags
    never trigger the restart."""
    sig = bench._slow_mode_signature
    # the r10 graph_knn_degrees official record: 3.61 s clean-warm
    # against a 1.213 pin (2.98x), canary quiet -> retry
    assert sig({"cleared": False, "warm_clean_best_sec": 3.61,
                "canary_factor_at_trip": 1.07}, 1.213)
    # cleared flags need no retry
    assert not sig({"cleared": True, "warm_clean_best_sec": 3.61,
                    "canary_factor_at_trip": 1.07}, 1.213)
    # a genuine ~2.2x regression (under the 2.5x signature bar) ships
    # as measured — the retry is for slow-mode outliers, not a third
    # chance for every flag
    assert not sig({"cleared": False, "warm_clean_best_sec": 2.7,
                    "canary_factor_at_trip": 1.0}, 1.213)
    # stormy canary = storm-ambiguous, already handled by the
    # adjudication budget; a fresh session would measure the same storm
    assert not sig({"cleared": False, "warm_clean_best_sec": 3.61,
                    "canary_factor_at_trip": 2.4}, 1.213)
    # canary_factor_after (post-adjudication) takes precedence over
    # the at-trip reading
    assert not sig({"cleared": False, "warm_clean_best_sec": 3.61,
                    "canary_factor_at_trip": 1.0,
                    "canary_factor_after": 2.4}, 1.213)
    # no qualifying warm measurement yet / no pin: nothing to re-verify
    assert not sig({"cleared": False, "warm_clean_best_sec": None,
                    "canary_factor_at_trip": 1.0}, 1.213)
    assert not sig({"cleared": False, "warm_clean_best_sec": 3.61,
                    "canary_factor_at_trip": 1.0}, None)


def test_noise_adjustment_discounts_slowdowns_never_manufactures_them():
    """r10: the adjusted median divides by the canary factor only when
    the factor exceeds 1.0. A sub-pin canary is residual probe JIT
    heat (healthy end factors 0.66-0.86), not machine speed — dividing
    by it inflated the adjusted median ABOVE raw (observed 1.12 raw ->
    1.37 'adjusted'), charging the engine for the probe's warmth."""
    assert bench._noise_adjusted(1.5, 1.5) == 1.0      # uniform slowdown
    assert bench._noise_adjusted(1.12, 0.82) == 1.12   # clamped at 1.0
    assert bench._noise_adjusted(1.12, None) == 1.12   # no canary
    assert bench._noise_adjusted(2.0, 1.25) == 1.6


def test_canary_pin_prose_matches_constant():
    """r10 (VERDICT r9 #5): PLANS.md's pin-generation-2 writeup and
    BENCH_BASELINE.json's canary_note each state the gen-2 pin value;
    both said 0.18 after the constant moved to 0.20 in the same round
    (commit 331034c) — load-bearing drift for anyone re-deriving
    noise_factor. Marker-pinned here the way README counts are."""
    with open(os.path.join(_ROOT, "PLANS.md")) as fh:
        plans = fh.read()
    m = re.search(r"pin:canary.*?(\d+\.\d+)", plans, re.DOTALL)
    assert m, "PLANS.md lost its <!-- pin:canary --> marker line"
    assert float(m.group(1)) == bench.CANARY_PIN_SEC, (
        f"PLANS.md documents the gen-2 canary pin as {m.group(1)}; "
        f"bench.py ships CANARY_PIN_SEC = {bench.CANARY_PIN_SEC}")
    with open(os.path.join(_ROOT, "BENCH_BASELINE.json")) as fh:
        note = json.load(fh).get("canary_note", "")
    m2 = re.search(r"generation 2 \((\d+\.\d+)", note)
    assert m2, "BENCH_BASELINE.json canary_note lost its gen-2 pin value"
    assert float(m2.group(1)) == bench.CANARY_PIN_SEC, (
        f"BENCH_BASELINE.json canary_note says the gen-2 pin is "
        f"{m2.group(1)}; bench.py ships {bench.CANARY_PIN_SEC}")


def test_headline_names_all_registered():
    missing = [n for n in bench.HEADLINE if n not in QUERIES]
    assert not missing, (
        f"bench HEADLINE names absent from the registry: {missing} — "
        "a renamed query would silently shrink the suite total")


def test_every_headline_query_has_a_baseline_pin():
    """A headline query missing from BENCH_BASELINE.json silently
    escapes the 2x regression gate (its dvb is simply undefined) —
    etl_cascade_delete did exactly that between its r6 HEADLINE
    registration and the r7 pin. New headline names must be pinned in
    the same round they are added."""
    with open(os.path.join(_ROOT, "BENCH_BASELINE.json")) as fh:
        base = json.load(fh)
    unpinned = [n for n in bench.HEADLINE
                if n not in base.get("queries", {})]
    assert not unpinned, (
        f"headline queries without a baseline pin: {unpinned} — add a "
        "quiet-window pin to BENCH_BASELINE.json (see the bench-noise "
        "discipline notes)")


def test_readme_counts_match_registry():
    with open(os.path.join(_ROOT, "README.md")) as fh:
        readme = fh.read()
    m = re.search(
        r"counts:registry.*?Registry as of r\d+: (\d+) queries, "
        r"(\d+) oracled",
        readme, re.DOTALL)
    assert m, "README.md lost its <!-- counts:registry --> marker line"
    stated_q, stated_o = int(m.group(1)), int(m.group(2))
    assert stated_q == len(QUERIES), (
        f"README says {stated_q} registry queries; len(QUERIES) is "
        f"{len(QUERIES)} — update the marked line in README.md")
    assert stated_o == len(ORACLES), (
        f"README says {stated_o} oracled; len(ORACLES) is "
        f"{len(ORACLES)} — update the marked line in README.md")
    # second prose site (r8 verdict "What's wrong #3": this exact line
    # said 231 while the registry held 232 — the same drift class the
    # counts:registry marker killed, at a line the marker didn't cover)
    m2 = re.search(r"counts:rotation.*?the registry holds (\d+)\.",
                   readme, re.DOTALL)
    assert m2, "README.md lost its <!-- counts:rotation --> marker line"
    assert int(m2.group(1)) == len(QUERIES), (
        f"README rotation section says the registry holds "
        f"{int(m2.group(1))}; len(QUERIES) is {len(QUERIES)}")


def test_coverage_waiver_node_ids_exist():
    """Every pytest node-id cited in COVERAGE.md's rows-only waiver
    table must name a real test function in the cited file (r8 verdict
    #8: the waiver table is only verifiable in one grep if its node-ids
    resolve; a renamed test must fail THIS test, not silently orphan
    the waiver)."""
    with open(os.path.join(_ROOT, "COVERAGE.md")) as fh:
        text = fh.read()
    # anchor context so bare `::test_x` continuations resolve against
    # the most recent file mention
    cited = re.findall(r"(?:(test_\w+\.py))?::(test_\w+)", text)
    assert cited, "COVERAGE.md cites no test node-ids"
    current_file, missing = None, []
    for fname, func in cited:
        if fname:
            current_file = fname
        assert current_file, "node-id cited before any file name"
        fpath = os.path.join(_ROOT, "tests", current_file)
        if not os.path.exists(fpath):
            missing.append(f"{current_file} (file missing)")
            continue
        with open(fpath) as fh:
            src = fh.read()
        if not re.search(rf"^def {re.escape(func)}\(", src, re.M):
            missing.append(f"{current_file}::{func}")
    assert not missing, (
        f"COVERAGE.md cites nonexistent test node-ids: {missing}")
