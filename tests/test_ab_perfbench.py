"""The verdict rule of tools/ab_perfbench.py (simplicity-review: gain,
no regression, unresolved, regression) on hand-made paired runs."""

from __future__ import annotations

from tools.ab_perfbench import _cell, _seeds, cycle_pairs, per_unit, verdict

BASE = [10.0, 11.0, 12.0, 10.5, 11.5, 10.0, 11.0, 12.0, 10.5, 11.5]


def test_gain_needs_nine_of_ten_wins_and_a_gap_over_the_base_iqr():
    assert verdict(BASE, [8.0] * 10, "lower", 0.25) == ("gain", 10)
    # 9/10 wins but a gap inside the base IQR: not a gain
    close = [b - 0.1 for b in BASE[:9]] + [BASE[9] + 0.1]
    assert verdict(BASE, close, "lower", 0.25) == ("no regression", 9)
    assert verdict([10.0] * 10, [14.0] * 10, "higher", 0.25) == ("gain", 10)


def test_regression_and_unresolved():
    assert verdict([10.0] * 10, [14.0] * 10, "lower", 0.25)[0] == "regression"
    wide = [5.0, 15.0, 6.0, 14.0, 5.0, 15.0, 6.0, 14.0, 5.0, 15.0]
    assert verdict(wide, wide[::-1], "lower", 0.25)[0] == "unresolved"
    # a wide spread still reads as no regression when every change run
    # beats every base run
    assert verdict(wide, [1.0, 2.0] * 5, "lower", 0.25)[0] in ("gain", "no regression")


def test_seed_ranges():
    assert _seeds("11-13") == [11, 12, 13]
    assert _seeds("3,5,7-8") == [3, 5, 7, 8]


def test_time_per_unit_of_work_quartiles():
    """A faster change spreads wider in work_per_s by 1/T scaling alone:
    the same 10% time spread reads as 10x the absolute rate spread at
    10x the rate, and the time-per-unit cells show it."""
    slow = [10.0, 11.0, 10.0, 11.0]
    fast = [100.0, 110.0, 100.0, 110.0]
    assert per_unit(fast) == [0.01, 1 / 110, 0.01, 1 / 110]
    assert _cell(slow) == "10.5 (10-11)"
    assert _cell(fast) == "105 (100-110)"
    assert _cell(per_unit(slow)) == "0.09545 (0.09091-0.1)"
    assert _cell(per_unit(fast)) == "0.009545 (0.009091-0.01)"


def test_cycle_pairs_flag_unequal_ingest_work():
    """Each ingest pair's cycles print as ``seed base/change``; a pair
    whose sides ran different cycle counts is flagged, a run without an
    info line (recorded before the tool kept it) is not."""
    info = [{"info": {"cycles": n}} for n in (2, 2, 3)]
    base = [info[0], info[0], {}]
    change = [info[1], info[2], info[2]]
    assert cycle_pairs([11, 12, 13], base, change) == (
        ["11 2/2", "12 2/3", "13 ?/3"], [12]
    )
