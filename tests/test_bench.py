"""bench.py's summary lines, built from synthetic timings (no Spark session)."""

import json

import pytest

import __spark_entry__ as entrymod
import bench

RELATIONAL = [
    "revenue_by_nation",
    "pricing_summary",
    "top_orders_per_customer",
    "argmax_part_by_flag",
    "events_hourly",
    "distinct_users_daily",
]


def _legs(pairs):
    """Legs in ABBA order from ``[(sec_n, sec_4n), ...]`` per pair."""
    legs = []
    for i, (sec_n, sec_4n) in enumerate(pairs):
        order = [(4, sec_4n), (1, sec_n)] if i % 2 == 0 else [(1, sec_n), (4, sec_4n)]
        legs += [{"cpus": c, "sec": s, "pair": i} for c, s in order]
    return legs


def test_scaling_is_best_of_k_with_median_and_pair_cross_checks():
    # pair 1's 4N leg absorbed a transient; the N side is fastest in pair 2
    sc = bench.scaling_summary(_legs([(280.0, 80.0), (270.0, 200.0), (250.0, 75.0)]))
    assert sc["cpus_n"] == 1 and sc["cpus_4n"] == 4
    assert sc["replicate"] == bench.REPLICATE
    assert sc["pairs"] == 3
    assert (sc["sec_n"], sc["sec_4n"]) == (250.0, 75.0)
    assert sc["speedup"] == pytest.approx(250 / 75, abs=1e-3)
    assert sc["efficiency"] == pytest.approx(250 / 75 / 4, abs=1e-3)
    assert sc["efficiency_median"] == pytest.approx(270 / 80 / 4, abs=1e-3)
    assert sc["min_pair_ratio"] == pytest.approx(270 / 200, abs=1e-3)


def test_scaling_waits_for_both_sides_and_skips_half_pairs():
    assert bench.scaling_summary([]) is None
    assert bench.scaling_summary([{"cpus": 4, "sec": 80.0, "pair": 0}]) is None
    # pair 0 lost its N leg (timed out): best-of-K still uses its 4N sample,
    # the pair cross-check only whole pairs
    legs = [{"cpus": 4, "sec": 70.0, "pair": 0},
            {"cpus": 1, "sec": 260.0, "pair": 1}, {"cpus": 4, "sec": 80.0, "pair": 1}]
    sc = bench.scaling_summary(legs)
    assert sc["pairs"] == 1
    assert sc["speedup"] == pytest.approx(260 / 70, abs=1e-3)
    assert sc["min_pair_ratio"] == pytest.approx(260 / 80, abs=1e-3)


def test_summary_line_is_compact():
    times = {name: 1234.567 for name in bench.HEADLINE}
    out = bench.summary(0.1, 4, times, 1234.567, 240_000, 314)
    out["scaling"] = bench.scaling_summary(
        _legs([(280.123456, 80.123456)] * bench.PAIRS))
    line = json.dumps(out)
    assert len(line) <= 1500
    parsed = json.loads(line)
    assert len(parsed["queries"]) == 9
    assert parsed["host_cpus"] >= 1
    for key in ("sec_n", "sec_4n", "speedup", "efficiency", "efficiency_median",
                "min_pair_ratio"):
        assert key in parsed["scaling"]
    assert parsed["scaling"]["pairs"] == bench.PAIRS


def test_headline_names_are_entry_queries_without_the_relational_ones():
    qs = entrymod.queries()
    assert len(bench.HEADLINE) == 9
    assert all(name in qs for name in bench.HEADLINE)
    assert not set(RELATIONAL) & set(bench.HEADLINE)
    assert set(RELATIONAL) <= set(qs)
