"""The bench regression gate as a pure function: >2x AND >0.5s over
the per-entry reference median, only at the baseline's own scale
factor, new entries exempt."""

import sys, os
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS_DIR = os.path.join(REPO_ROOT, "tools")
sys.path.insert(0, REPO_ROOT)

from bench import find_regressions, machine_factor


BASE = {"sf": 0.1, "queries": {"fast": 0.1, "slow": 2.0, "mid": 0.4}}


def test_flags_only_double_and_half_second():
    timings = {
        "fast": 0.3,   # 3x but only +0.2s -> jitter, not flagged
        "slow": 4.6,   # 2.3x and +2.6s -> flagged
        "mid": 0.95,   # 2.4x and +0.55s -> flagged
        "new_entry": 9.9,  # no reference -> exempt
    }
    got = find_regressions(timings, BASE, 0.1)
    assert set(got) == {"slow", "mid"}
    assert got["slow"] == {"ref": 2.0, "now": 4.6, "calib": 1.0}


def test_machine_factor_calibrates_uniformly_slow_host():
    """A host running the whole fleet 1.5x slower must not flag
    unchanged entries, but a genuine 4x outlier on that host still
    trips the calibrated gate."""
    refs = {f"e{i}": 1.0 for i in range(30)}
    base = {"sf": 0.1, "queries": refs}
    uniform = {n: 1.5 for n in refs}
    assert machine_factor(uniform, refs) == 1.5
    # every entry is 1.5x = 0.75x the calibrated gate -> clean
    assert find_regressions(uniform, base, 0.1) == {}
    # one real regression on the slow host: 4x raw = 2.7x calibrated
    outlier = dict(uniform, e0=4.0)
    got = find_regressions(outlier, base, 0.1)
    assert set(got) == {"e0"}
    assert got["e0"]["calib"] == 1.5


def test_machine_factor_never_loosens_on_fast_host_or_thin_data():
    refs = {f"e{i}": 1.0 for i in range(30)}
    fast = {n: 0.5 for n in refs}
    assert machine_factor(fast, refs) == 1.0  # clamped: gate stays raw
    assert machine_factor({"a": 9.0}, {"a": 1.0}) == 1.0  # <20 entries
    # near-zero references don't vote (codegen jitter)
    tiny = {f"t{i}": 0.04 for i in range(40)}
    assert machine_factor({n: 0.4 for n in tiny}, tiny) == 1.0


def test_machine_factor_cap_surfaces_fleet_wide_regressions():
    """A uniform 3.5x slowdown must NOT be calibrated away as 'slow
    host': the factor caps at 1.5 and every entry flags — a shared-path
    code regression moves the whole fleet exactly like a slow host
    does, and past 1.5x the gate refuses to guess in the code's
    favor."""
    refs = {f"e{i}": 1.0 for i in range(30)}
    base = {"sf": 0.1, "queries": refs}
    uniform = {n: 3.5 for n in refs}
    assert machine_factor(uniform, refs) == 1.5
    got = find_regressions(uniform, base, 0.1)
    assert set(got) == set(refs)  # 3.5 > 2 * 1.5 * 1.0 -> all flagged


def test_clean_run_is_empty():
    assert find_regressions({"fast": 0.11, "slow": 1.9}, BASE, 0.1) == {}


def test_sf_mismatch_and_missing_baseline_disable_gate():
    timings = {"slow": 99.0}
    assert find_regressions(timings, BASE, 0.01) == {}
    assert find_regressions(timings, None, 0.1) == {}
    assert find_regressions(timings, {"queries": {}}, 0.1) == {}


def test_baseline_ratchet_never_loosens():
    sys.path.insert(0, TOOLS_DIR)
    from refresh_bench_baseline import ratchet

    old = {"sf": 0.1, "queries": {"a": 1.0, "b": 2.0, "gone": 5.0}}
    run = {"sf": 0.1, "queries": {"a": 1.5, "b": 1.2, "fresh": 0.7}}
    out = ratchet(old, run)
    assert out["queries"]["a"] == 1.0  # slower round cannot loosen
    assert out["queries"]["b"] == 1.2  # faster round tightens
    assert out["queries"]["fresh"] == 0.7  # new entry enters as measured
    assert "gone" not in out["queries"]  # left the registry -> dropped
    assert out["waived"] == []


def test_baseline_ratchet_tighten_only_freezes_untouched_entries():
    """ADVICE r16: with a tighten_only set, an UNTOUCHED entry's
    reference must not move on a lucky fast run (and still never
    loosens); touched entries ratchet normally; new entries enter at
    their measured median either way."""
    sys.path.insert(0, TOOLS_DIR)
    from refresh_bench_baseline import ratchet

    old = {"sf": 0.1, "queries": {"touched": 2.0, "untouched": 1.0}}
    run = {
        "sf": 0.1,
        "queries": {"touched": 1.4, "untouched": 0.6, "fresh": 0.9},
    }
    out = ratchet(old, run, tighten_only={"touched"})
    assert out["queries"]["touched"] == 1.4  # changed entry tightens
    assert out["queries"]["untouched"] == 1.0  # lucky minimum ignored
    assert out["queries"]["fresh"] == 0.9  # new entry enters as measured
    assert out["tighten_only"] == ["touched"]
    # a SLOW run still cannot loosen a tighten_only entry
    slow = {"sf": 0.1, "queries": {"touched": 9.0, "untouched": 9.0}}
    out2 = ratchet(old, slow, tighten_only={"touched"})
    assert out2["queries"] == {"touched": 2.0, "untouched": 1.0}


def test_baseline_ratchet_waiver_is_explicit_and_recorded():
    sys.path.insert(0, TOOLS_DIR)
    from refresh_bench_baseline import ratchet

    old = {"sf": 0.1, "queries": {"a": 1.0}}
    run = {"sf": 0.1, "queries": {"a": 3.0}}
    out = ratchet(old, run, waivers={"a"})
    assert out["queries"]["a"] == 3.0
    assert out["waived"] == ["a"]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="sf mismatch"):
        ratchet(old, {"sf": 0.01, "queries": {"a": 0.1}})


def test_rebase_outlier_audit_and_zero_guard():
    """ADVICE r14 pair: (1) a host rebase must surface entries whose
    new/old ratio decouples from the fleet median instead of silently
    grandfathering an entry-specific regression; (2) an archived 0.0
    reference (3-decimal rounding of a sub-ms entry) must not divide."""
    sys.path.insert(0, TOOLS_DIR)
    from refresh_bench_baseline import rebase_outliers, rebase_ratios

    # fleet drifts uniformly ~1.5x, but 'hot' runs 6x with a big
    # absolute excess -> flagged; 'tiny' is 6x but sub-threshold abs
    old = {
        "sf": 0.1,
        "queries": {
            "a": 1.0, "b": 2.0, "c": 3.0, "hot": 1.0, "tiny": 0.01, "z": 0.0,
        },
    }
    new_q = {"a": 1.5, "b": 3.0, "c": 4.5, "hot": 6.0, "tiny": 0.06, "z": 0.4}
    ratios, med = rebase_ratios(new_q, old)
    assert "z" not in ratios  # zero old reference never divides
    assert med == 1.5
    out = rebase_outliers(new_q, old, ratios, med)
    assert set(out) == {"hot"}
    # uniform drift alone flags nothing
    uni = {"a": 1.5, "b": 3.0, "c": 4.5, "hot": 1.5, "tiny": 0.015, "z": 0.1}
    r2, m2 = rebase_ratios(uni, old)
    assert rebase_outliers(uni, old, r2, m2) == {}
    # no old baseline -> no audit, no crash
    r3, m3 = rebase_ratios(new_q, None)
    assert (r3, m3) == ({}, None)
    assert rebase_outliers(new_q, None, r3, m3) == {}


def test_calibration_alert_pins_code_vs_host_divergence():
    """The round-10 off-host anchor: entry ratios say 1.4x but the
    engine-free anchors say the host is flat -> alarm (fleet-wide code
    regression can't masquerade as host speed); when the anchors agree
    the host is slow, no alarm."""
    from bench import calibration_alert

    assert calibration_alert(1.4, 1.0) is not None  # code, not silicon
    assert calibration_alert(1.4, 1.35) is None  # host really is slow
    assert calibration_alert(1.04, 1.0) is None  # below the WARN band
    assert calibration_alert(1.0, 1.0) is None


def test_calibration_alert_hysteresis_band_boundaries():
    """VERDICT r10 #4: machine 1.099 / host 1.0 stayed silent by 0.001
    under the hard >1.1 trigger.  The WARN band (machine >= 1.05 while
    >= 5% above host) must surface that regime; the hard alert still
    owns > 1.1."""
    from bench import calibration_alert

    # the exact boundary cohort the verdict asked for, host = 1.0
    warn_109 = calibration_alert(1.09, 1.0)
    warn_110 = calibration_alert(1.10, 1.0)
    warn_111 = calibration_alert(1.11, 1.0)
    assert warn_109 is not None and warn_109.startswith("WARN")
    assert warn_110 is not None and warn_110.startswith("WARN")
    # 1.11 clears the >1.1 leg but not the >1.15*host leg at host=1.0:
    # still the WARN band; the hard alert owns machine > 1.15*host
    assert warn_111 is not None and warn_111.startswith("WARN")
    hard_116 = calibration_alert(1.16, 1.0)
    assert hard_116 is not None and not hard_116.startswith("WARN")
    # band entry point
    warn_105 = calibration_alert(1.05, 1.0)
    assert warn_105 is not None and warn_105.startswith("WARN")
    # a matching slow host silences the band (silicon, not code)
    assert calibration_alert(1.09, 1.08) is None


def test_host_factor_floors_at_one_and_handles_missing_jvm():
    from bench import ANCHOR_REF, host_factor

    fast = {k: v / 2 for k, v in ANCHOR_REF.items()}
    assert host_factor(fast) == 1.0  # fast host never loosens
    slow = {k: v * 2 for k, v in ANCHOR_REF.items()}
    assert abs(host_factor(slow) - 2.0) < 1e-9
    py_only = {"python_s": ANCHOR_REF["python_s"] * 1.3, "jvm_s": None}
    assert abs(host_factor(py_only) - 1.3) < 1e-9
    assert host_factor({"python_s": None, "jvm_s": None}) == 1.0


def test_top_ratio_contributors_orders_and_floors():
    from bench import top_ratio_contributors

    refs = {"a": 1.0, "b": 0.5, "c": 0.04, "d": 2.0}
    timings = {"a": 3.0, "b": 0.6, "c": 4.0, "d": 2.0, "e": 9.9}
    out = top_ratio_contributors(timings, refs, k=2)
    # c is floored out (ref < 0.05), e has no ref; a (3.0x) leads b (1.2x)
    assert [d["entry"] for d in out] == ["a", "b"]
    assert out[0] == {"entry": "a", "ratio": 3.0, "delta_s": 2.0}
    assert len(top_ratio_contributors(timings, refs)) == 3  # a, b, d


def test_build_once_cold_reset_covers_every_entry():
    """A cold reset of every build-once entry (non-empty
    ``QuerySpec.builds``) empties exactly the memos that entry builds
    and leaves every other memo alone (else its quiet-JVM re-time would
    measure a memo hit, or wipe a sibling's build); unknown entries and
    unknown memo names fail loudly rather than silently re-time warm."""
    import pytest

    from bench import cold_reset
    from datalakehouse_spark.registry import MEMOS, REGISTRY, clear_memos

    build_once = {n: s.builds for n, s in REGISTRY.items() if s.builds}
    assert build_once, "no build-once entries registered"
    for name, builds in build_once.items():
        assert set(builds) <= set(MEMOS), f"{name} builds unknown memos"
        for memo in MEMOS.values():
            memo["sentinel"] = name
        try:
            cold_reset(name)
            emptied = {m for m, memo in MEMOS.items() if "sentinel" not in memo}
            assert emptied == set(builds), name
        finally:
            for memo in MEMOS.values():
                memo.pop("sentinel", None)

    with pytest.raises(ValueError, match="cold-reset"):
        cold_reset("not_a_build_once_entry")
    with pytest.raises(KeyError, match="unknown session memos"):
        clear_memos(["not_a_memo"])
