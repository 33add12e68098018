"""Unit tests for bench.py's protocol helpers — the pure arithmetic
its one-line artifact depends on (window validity, the A-B-A schedule,
the line budget, regression flags). No Spark.
"""

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import pytest

import bench


@pytest.fixture(autouse=True)
def _pin_levels(monkeypatch):
    # expected values below are for the recorded 4→16 pair, not the host's
    monkeypatch.setattr(bench, "LO_CORES", 4)
    monkeypatch.setattr(bench, "HI_CORES", 16)


def test_sane_hw_band_brackets_observed_probe_noise():
    # quiet-state probe readings observed while building the protocol
    observed = [0.989, 0.914, 0.934, 0.866, 0.871, 1.017, 0.87,
                0.902, 0.936, 0.967, 0.822, 0.945, 0.917, 0.798]
    lo, hi = bench.SANE_HW
    assert all(lo <= x <= hi for x in observed)
    # and the gross-window readings it exists to catch stay OUTSIDE
    for pathological in (3.765, 0.5):
        assert not (lo <= pathological <= hi)


def test_prev_round_loader_parses_driver_wrapper(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    (tmp_path / "BENCH_r02.json").write_text(
        json.dumps({"parsed": {"queries": {"q": 1.5}}})
    )
    (tmp_path / "BENCH_r03.json").write_text(
        json.dumps({"queries": {"q": 2.0}})  # bare shape, higher round
    )
    name, prev = bench._load_prev_queries()
    assert name == "r03"
    assert prev == {"q": 2.0}


def test_prev_round_loader_handles_missing_artifacts(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    assert bench._load_prev_queries() == ("", {})


# ---- final-line budget -----------------------------------------------

def _worst_case_compact():
    """A compact dict at least as large as any real round produces:
    80 long-named queries, a full extract block, regressions, and
    maximal warnings."""
    queries = {
        f"winnow_containment_documents_variant_{i:02d}": round(
            0.11 * (i + 1), 3
        )
        for i in range(80)
    }
    return {
        "sf": 0.1,
        "unit": "sec",
        "extract": {
            "rows": 3400000,
            "cores": {"lo": 4, "hi": 16},
            "scaling_efficiency": 0.865,
            "window_valid": False,
            "normalized_efficiency": None,
            "lo_turns_per_sec": 31092.8,
            "hi_turns_per_sec": 107549.6,
            "skew": {
                "salt1_spread": 19.68,
                "salt8_spread": 4.77,
                "salt1_task_ms_max": 6593,
                "salt8_task_ms_max": 1399,
            },
        },
        "metric": "headline_queries_total",
        "queries": queries,
        "value": 123.456,
        "headline_rounds": 3,
        "query_regressions": {
            "vs": "r04",
            **{
                f"winnow_containment_documents_variant_{i:02d}": {
                    "r04_sec": 1.0,
                    "median_sec": 2.0,
                    "min_sec": 1.9,
                }
                for i in range(10)
            },
        },
        "warnings": [
            "scaling window invalid: treat the efficiency as a "
            "measurement failure, not an engine number",
            "coverage tier truncated at 12 queries: headline reserve",
            "headline rounds capped at 2: kill guard",
        ],
        "detail_file": "BENCH_DETAIL_r05.json",
    }


def test_fit_line_worst_case_fits_driver_tail_capture():
    compact = _worst_case_compact()
    line = bench._fit_line(compact)
    assert len(line) <= bench.LINE_BUDGET
    parsed = json.loads(line)
    # the never-shed core survives
    assert parsed["metric"] == "headline_queries_total"
    assert parsed["value"] == 123.456
    assert parsed["extract"]["scaling_efficiency"] == 0.865
    assert parsed["extract"]["window_valid"] is False
    assert parsed["extract"]["skew"]["salt8_spread"] == 4.77
    assert parsed["detail_file"] == "BENCH_DETAIL_r05.json"


def test_fit_line_sheds_fastest_queries_first():
    compact = _worst_case_compact()
    line = bench._fit_line(compact)
    parsed = json.loads(line)
    q = parsed.get("queries", {})
    if q:
        # survivors must be the SLOWEST ones
        kept = min(q.values())
        assert kept >= 0.11 * (parsed["queries_omitted"])


def test_fit_line_small_compact_untouched():
    compact = {"metric": "m", "value": 1.0, "queries": {"a": 1.0}}
    line = bench._fit_line(compact)
    assert json.loads(line) == {
        "metric": "m", "value": 1.0, "queries": {"a": 1.0}
    }


def test_fit_line_real_r05_shape_keeps_most_queries():
    # the real shape (the actual HEADLINE list, one warning):
    # must fit the budget while keeping (nearly) all per-query medians
    # — shedding a few fastest entries is fine, losing the dict is not
    compact = _worst_case_compact()
    compact["queries"] = {n: 12.345 for n in bench.HEADLINE}
    compact.pop("query_regressions")
    compact["warnings"] = compact["warnings"][:1]
    line = bench._fit_line(compact)
    assert len(line) <= bench.LINE_BUDGET
    kept = json.loads(line).get("queries", {})
    assert len(kept) >= len(bench.HEADLINE) - 6


# ---- regression min-guard ---------------------------------------------

def test_regression_needs_median_and_min():
    prev = {"q_noise": 2.6, "q_real": 1.0, "q_fine": 1.0}
    qtimes = {"q_noise": 7.0, "q_real": 2.0, "q_fine": 1.1}
    qmins = {"q_noise": 1.7, "q_real": 1.8, "q_fine": 1.0}
    out = bench._flag_regressions(qtimes, qmins, prev, "r04")
    # q_noise: median regressed 2.7x but min is FASTER -> not flagged
    assert "q_noise" not in out
    # q_real: both median (2x) and min (1.8x) regressed -> flagged
    assert out["q_real"] == {
        "r04_sec": 1.0, "median_sec": 2.0, "min_sec": 1.8
    }
    assert "q_fine" not in out


def test_prev_round_loader_falls_back_to_detail_file(tmp_path, monkeypatch):
    # the recorded line was tail-clipped (parsed null) but the committed
    # DETAIL side file has the medians — the loader must use them
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    (tmp_path / "BENCH_r04.json").write_text(json.dumps({"parsed": None}))
    (tmp_path / "BENCH_DETAIL_r04.json").write_text(
        json.dumps({"query_spread": {"q": {"runs": [2.0, 1.0, 3.0]}}})
    )
    name, prev = bench._load_prev_queries()
    assert name == "r04"
    assert prev == {"q": 2.0}


def test_prev_round_loader_prefers_queries_median_key(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    (tmp_path / "BENCH_r05.json").write_text(json.dumps({"parsed": None}))
    (tmp_path / "BENCH_DETAIL_r05.json").write_text(
        json.dumps({"queries_median": {"q": 1.25},
                    "query_spread": {"q": {"runs": [9.0]}}})
    )
    assert bench._load_prev_queries() == ("r05", {"q": 1.25})


# ------------------------------------------------- A-B-A level schedule


def test_aba_schedule_cancels_linear_drift_where_sequential_does_not():
    """Under a linear machine-RATE drift the mirror-symmetric lo×2 →
    hi×3 → lo×2 schedule's raw efficiency stays within 0.5% of truth,
    while the sequential schedule is biased ten times further. Each
    simulated run's duration solves ∫ rate(t) dt = work."""
    import statistics

    work_lo, work_hi = 24.0, 7.5   # seconds of work at rate 1.0
    slope = 0.002                  # rate(t) = 1 + slope * t  (per sec)

    def simulate(schedule):
        # duration d from ∫_T^{T+d} (1 + s·t) dt = W:
        #   d = (sqrt((1+s·T)^2 + 2·s·W) - (1+s·T)) / s
        t, out = 0.0, {"lo": [], "hi": []}
        for which in schedule:
            w = work_lo if which == "lo" else work_hi
            a = 1.0 + slope * t
            d = ((a * a + 2 * slope * w) ** 0.5 - a) / slope
            out[which].append(d)
            t += d
        return out

    def eff(r):
        return (statistics.median(r["lo"]) / statistics.median(r["hi"])) / (
            work_lo / work_hi
        )

    err_seq = abs(eff(simulate(["lo"] * 3 + ["hi"] * 3)) - 1.0)
    err_aba = abs(
        eff(simulate(["lo", "lo", "hi", "hi", "hi", "lo", "lo"])) - 1.0
    )
    assert err_aba < 0.005, err_aba
    assert err_seq > 10.0 * err_aba, (err_seq, err_aba)


def test_coverage_cost_hints_merge_and_unknown_first(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    (tmp_path / "BENCH_DETAIL_r04.json").write_text(json.dumps(
        {"coverage_timings": {"secs": {"a": 5.0, "b": 1.0, "dead": None}}}
    ))
    (tmp_path / "BENCH_DETAIL_r05.json").write_text(json.dumps(
        {"coverage_timings": {"secs": {"a": 2.0}}}  # later round wins
    ))
    hints = bench._coverage_cost_hints()
    assert hints == {"a": 2.0, "b": 1.0}
    # ordering rule used by the coverage tier: unknown first, then cheap
    names = ["a", "b", "new_query"]
    ordered = sorted(names, key=lambda n: hints.get(n, -1.0))
    assert ordered == ["new_query", "b", "a"]


def test_scaling_attempt_aba_plumbing(monkeypatch):
    """The A-B-A attempt calls lo/hi/lo with 4 sub-mode arguments and
    equal lo arms, merges the arms, and stamps the schedule."""
    calls = []

    def fake_subprocess(args):
        calls.append(args)
        cores, n = int(args[2]), int(args[4])
        return bench._level([20.0 if cores == 4 else 5.5] * n, 1000, cores)

    monkeypatch.setattr(bench, "_subprocess_json", fake_subprocess)
    monkeypatch.setattr(
        bench, "_hardware_ceiling", lambda lo, hi: {"efficiency": 0.95}
    )
    monkeypatch.setattr(bench, "_elapsed", lambda: 0.0)  # budget never binds
    for headline, arm in (("0", 2), ("1", 1)):  # scaling-only vs full bench
        monkeypatch.setenv("BENCH_HEADLINE", headline)
        calls.clear()
        att = bench._scaling_attempt(runs=3, rows=1000)
        assert all(len(c) == 5 and c[0] == "--time-level" for c in calls)
        assert [int(c[2]) for c in calls] == [4, 16, 4]
        # the mirror arms have equal run counts by construction
        assert int(calls[0][4]) == int(calls[2][4]) == arm
        assert int(calls[1][4]) == 3
        assert len(att["local4"]["all_runs_sec"]) == 2 * arm
        assert "A-B-A" in att["schedule"]
        assert att["window_valid"] is True
        assert abs(att["efficiency"] - (20.0 / 5.5) / 4) < 0.01


@pytest.mark.parametrize("rnd, valid", [("04", False), ("05", True)])
def test_window_replays_recorded_verdicts(rnd, valid):
    """The recorded attempts replay to their recorded verdicts: r04 is
    void only on its 0.738 bracket probe; both raw spreads are ≤ 1.12
    and both efficiencies are plausible."""
    path = os.path.join(os.path.dirname(bench.__file__), f"BENCH_DETAIL_r{rnd}.json")
    with open(path) as f:
        recorded = json.load(f)["extract"]
    (a,) = recorded["attempts"]
    w = bench._window(
        a["local4"], a["local16"], a["hw_probe_before"], a["hw_probe_after"]
    )
    assert w["window_valid"] is valid is a["window_valid"]
    assert w["hw_window_sane"] is valid
    assert w["run_spread"] <= 1.12 and w["run_spread_sane"]
    assert 0 < w["efficiency"] <= bench.MAX_EFF
    assert abs(w["efficiency"] - a["efficiency"]) < 0.002
    assert w["normalized_efficiency"] == recorded["normalized_efficiency"]


@pytest.mark.parametrize("lo, rows, lo_rate, hi_rate, start_s, stops", [
    # default full bench on a 4-vCPU VM: local[1] and (skew) local[4]
    # turns/s, start = corpus + skew phases
    (1, 149_657, 1710.7, 6657.4, 105.1, True),
    # local[4]/local[16] on the 32-CPU host (BENCH_DETAIL_r05.json)
    (4, 616_259, 31530.3, 102769.1, 41.0, False),
])
def test_full_bench_attempt_leaves_headline_inside_kill_guard(
    monkeypatch, lo, rows, lo_rate, hi_rate, start_s, stops
):
    """A default full bench, simulated at the run rates measured on its
    default corpus: the scaling attempt completes or stops after its
    first lo arm, and either way the headline's two guaranteed rounds
    still fit before the kill guard."""
    clock = [start_s]

    def fake_subprocess(args):
        cores, n = int(args[2]), int(args[4])
        run_s = rows / (lo_rate if cores == lo else hi_rate)
        warm = 3 if cores >= 8 else 1  # as in _time_extract
        clock[0] += 20.0 + (warm + n) * run_s  # JVM start, then the runs
        return bench._level([run_s] * n, rows, cores)

    def fake_probe(lo_cores, hi_cores):
        clock[0] += 10.0
        return {"efficiency": 0.9}

    monkeypatch.setattr(bench, "LO_CORES", lo)
    monkeypatch.setattr(bench, "HI_CORES", 4 * lo)
    monkeypatch.setattr(bench, "_subprocess_json", fake_subprocess)
    monkeypatch.setattr(bench, "_hardware_ceiling", fake_probe)
    monkeypatch.setattr(bench, "_elapsed", lambda: clock[0])
    monkeypatch.setenv("BENCH_HEADLINE", "1")
    att = bench._scaling_attempt(runs=3, rows=rows)
    assert ("abandoned" in att) is stops
    assert clock[0] + bench.headline_reserve(2) <= bench.KILL_GUARD_S


def test_hi_level_beyond_host_cpus_reports_no_efficiency(
    tmp_path, monkeypatch, capsys
):
    """On a 2-CPU host (lo 1, hi 4) nothing is timed, not even the skew
    evidence, and the line carries a null efficiency and a warning."""
    def never(*args):
        pytest.fail("the scaling part ran on a host it would oversubscribe")

    monkeypatch.setattr(bench, "CPUS", 2)
    monkeypatch.setattr(bench, "LO_CORES", 1)
    monkeypatch.setattr(bench, "HI_CORES", 4)
    monkeypatch.setattr(bench, "REPO", str(tmp_path))
    monkeypatch.setattr(bench, "_ensure_corpus", never)
    monkeypatch.setattr(bench, "_subprocess_json", never)
    monkeypatch.setattr(sys, "argv", ["bench.py"])
    monkeypatch.delenv("BENCH_SCALING", raising=False)
    monkeypatch.setenv("BENCH_HEADLINE", "0")
    assert bench.main() == 0
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["extract"]["cores"] == {"lo": 1, "hi": 4}
    assert line["extract"]["scaling_efficiency"] is None
    assert any("local[4] needs more than the 2 CPUs" in w for w in line["warnings"])
