"""Regression-gate plumbing tests for bench.py (no Spark needed).

Round-2 postmortem (VERDICT r02 items 1/2/6): the driver's BENCH_r02
artifact carried ``parsed: null`` because the single full JSON line
outgrew the 2000-char tail capture, and ``_prior_bench`` then crashed
on ``None.get`` inside a broad except — silently disabling the
regression gate.  These tests pin the fixed behavior: null-parsed
artifacts are skipped (not fatal), the newest parseable round wins,
same-round LOCAL beats the driver wrapper, and a synthetic slowdown
actually fires the gate.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_spec = importlib.util.spec_from_file_location("bench", os.path.join(_REPO, "bench.py"))
bench = importlib.util.module_from_spec(_spec)
sys.modules.setdefault("bench", bench)
_spec.loader.exec_module(bench)


def _write(tmp_path, name, payload):
    p = tmp_path / name
    p.write_text(json.dumps(payload))
    return str(p)


def test_load_query_timings_handles_parsed_null(tmp_path):
    # Exact shape of the round-2 driver artifact: parsed key PRESENT
    # with value null.  d.get("parsed", {}) returns None there; the fix
    # must coalesce before .get("queries").
    p = _write(tmp_path, "BENCH_r02.json", {"n": 1, "tail": "…", "parsed": None})
    assert bench._load_query_timings(p) == {}


def test_load_query_timings_both_shapes(tmp_path):
    wrapped = _write(
        tmp_path, "w.json", {"parsed": {"queries": {"q": 1.5}}, "tail": ""}
    )
    bare = _write(tmp_path, "b.json", {"queries": {"q": 2.5}})
    assert bench._load_query_timings(wrapped) == {"q": 1.5}
    assert bench._load_query_timings(bare) == {"q": 2.5}
    assert bench._load_query_timings(str(tmp_path / "missing.json")) == {}


def test_prior_bench_skips_unparseable_rounds(tmp_path):
    name = bench.HEADLINE[0]
    _write(tmp_path, "BENCH_r01.json", {"parsed": {"queries": {name: 0.5}}})
    _write(tmp_path, "BENCH_r02.json", {"parsed": None, "tail": "truncated"})
    # r02 is unparseable → the gate must fall back to r01, not return {}.
    assert bench._prior_bench(str(tmp_path)) == {name: 0.5}


def test_prior_bench_prefers_local_file_for_same_round(tmp_path):
    name = bench.HEADLINE[0]
    _write(tmp_path, "BENCH_r03.json", {"parsed": {"queries": {name: 9.0}}})
    _write(tmp_path, "BENCH_LOCAL_r03.json", {"queries": {name: 0.4}})
    # the LOCAL artifact comes from a clean run; the driver wrapper may
    # be sandbox-load-inflated (r02 measured 2–26×) — LOCAL wins.
    assert bench._prior_bench(str(tmp_path)) == {name: 0.4}


def test_prior_bench_ignores_current_round_refresh(tmp_path):
    """VERDICT r07 ask #3: an intra-round bench.py re-run writes
    BENCH_LOCAL_r{N} for the CURRENT round; if that file became the
    baseline, re-running after a regression would reset the bar to the
    regressed numbers and mask a cross-round 2× slowdown.  The newest
    driver artifact is r07 → current round is 8 → the r08 LOCAL
    refresh must be excluded and the r07 numbers must stay the bar."""
    name = bench.HEADLINE[0]
    _write(tmp_path, "BENCH_r07.json", {"parsed": {"queries": {name: 1.0}}})
    # same-round refresh already recorded the regressed timing
    _write(tmp_path, "BENCH_LOCAL_r08.json", {"queries": {name: 3.0}})
    prior = bench._prior_bench(str(tmp_path))
    assert prior == {name: 1.0}
    # and the gate therefore still fires on the regressed re-run
    regs = bench._compute_regressions({name: 3.0}, prior)
    assert name in regs and regs[name]["prev"] == 1.0


def test_bench_name_parser_covers_every_artifact_shape():
    assert bench._parse_bench_name("BENCH_r14.json") == (14, False, 0)
    assert bench._parse_bench_name("BENCH_r14_c8.json") == (14, False, 0)
    assert bench._parse_bench_name("BENCH_LOCAL_r14.json") == (14, True, 0)
    assert bench._parse_bench_name("BENCH_LOCAL_r14_2.json") == (14, True, 2)
    assert bench._parse_bench_name("BENCH_SOLO_r14.json") is None
    assert bench._parse_bench_name("BENCH_r14.json.bak") is None


def test_core_tagged_driver_file_counts_in_both_round_helpers(tmp_path):
    """``BENCH_r14_c8.json`` is a round-14 driver artifact to both the
    round counter and the prior-file scan (they once disagreed: the
    counter saw round 14, the scan skipped the file)."""
    name = bench.HEADLINE[0]
    path = _write(
        tmp_path, "BENCH_r14_c8.json",
        {"cpus": 8, "parsed": {"queries": {name: 0.7}}},
    )
    assert bench._next_round(str(tmp_path)) == 15
    assert bench._bench_round_files(str(tmp_path)) == [(14, path)]
    assert bench._prior_bench(str(tmp_path), cpus=8) == {name: 0.7}


def test_prior_bench_matches_core_count(tmp_path):
    """A run compares only against a prior artifact from the same core
    count; with none on record it has no baseline rather than a wrong
    one (the r14 c8 run compared itself against the c32 file)."""
    name = bench.HEADLINE[0]
    _write(tmp_path, "BENCH_r13.json", {"cpus": 32, "parsed": {"queries": {name: 1.0}}})
    _write(tmp_path, "BENCH_r13_c8.json", {"cpus": 8, "parsed": {"queries": {name: 2.0}}})
    _write(tmp_path, "BENCH_LOCAL_r12.json", {"cpus": 8, "queries": {name: 3.0}})
    assert bench._prior_bench(str(tmp_path), cpus=32) == {name: 1.0}
    assert bench._prior_bench(str(tmp_path), cpus=8) == {name: 2.0}
    assert bench._prior_bench(str(tmp_path), cpus=4) == {}


def test_prior_bench_same_core_local_beats_newer_other_core(tmp_path):
    name = bench.HEADLINE[0]
    _write(tmp_path, "BENCH_r12.json", {"cpus": 32, "parsed": {"queries": {name: 5.0}}})
    _write(tmp_path, "BENCH_LOCAL_r12.json", {"cpus": 8, "queries": {name: 0.6}})
    _write(tmp_path, "BENCH_r13.json", {"cpus": 32, "parsed": {"queries": {name: 1.0}}})
    assert bench._prior_bench(str(tmp_path), cpus=8) == {name: 0.6}


def test_prior_bench_without_recorded_cpus_uses_newest(tmp_path):
    name = bench.HEADLINE[0]
    _write(tmp_path, "BENCH_r05.json", {"parsed": {"queries": {name: 1.0}}})
    _write(tmp_path, "BENCH_LOCAL_r05.json", {"queries": {name: 0.9}})
    assert bench._prior_bench(str(tmp_path), cpus=4) == {name: 0.9}


def test_prior_bench_maps_renames_all_parts_guard():
    prior = {"ffill_events": 0.3, "dedup_keep_first": 0.2}
    mapped = bench._map_renames(prior)
    # merged query with every part present → summed baseline
    assert mapped["dedup_variants_lineitem"] == 0.2
    # merged query missing a part (bfill_events) → no baseline at all,
    # a partial sum would read as a false regression
    assert "ffill_bfill_events" not in mapped


def test_regression_gate_fires_on_synthetic_slowdown():
    prior = {"q_slow": 1.0, "q_drift": 1.0, "q_ok": 1.0, "q_tiny": 0.1}
    now = {"q_slow": 2.5, "q_drift": 1.7, "q_ok": 1.4, "q_tiny": 5.0}
    regs = bench._compute_regressions(now, prior)
    # >1.5× drifts are recorded (for solo triage); ≤1.5× are not;
    # sub-0.2s priors are noise-exempt
    assert regs == {
        "q_slow": {"now": 2.5, "prev": 1.0},
        "q_drift": {"now": 1.7, "prev": 1.0},
    }
    assert "q_ok" not in regs and "q_tiny" not in regs


def test_drift_entries_carry_retiming_and_verdict():
    """VERDICT r09 ask #5 + ADVICE r10: every recorded drift gets an
    in-session re-timing under the key ``in_session_retime`` (honest
    cadence label — same JVM/page cache as the sweep); only retime >
    2× prior is a CONFIRMED regression, and contention-inflated
    drifts are exonerated in-artifact.  A retime crash is recorded
    per-entry, never fatal."""
    regs = bench._compute_regressions(
        {"q_real": 3.0, "q_noise": 1.7, "q_broken": 1.8},
        {"q_real": 1.0, "q_noise": 1.0, "q_broken": 1.0},
    )
    retimes = {"q_real": 2.9, "q_noise": 0.9}

    def retime(name):
        if name == "q_broken":
            raise RuntimeError("boom")
        return retimes[name]

    bench._annotate_solo(regs, retime)
    assert regs["q_real"] == {
        "now": 3.0, "prev": 1.0, "in_session_retime": 2.9,
        "confirmed": True,
    }
    assert regs["q_noise"]["in_session_retime"] == 0.9
    assert regs["q_noise"]["confirmed"] is False
    assert "in_session_retime" not in regs["q_broken"]
    assert regs["q_broken"]["retime_error"].startswith("RuntimeError")
    # the artifact documents the cadence caveat next to the entries
    assert "in_session_retime" in bench.BENCH_NOTES["regressions_vs_prior"]


def test_compact_final_line_fits_tail_capture():
    # The compact fallback (no queries map) must stay far under the
    # driver's 2000-char tail window even with every field populated.
    compact = {
        "metric": "headline_queries_total_sec",
        "value": 99999.999,
        "median_total_sec": 99999.999,
        "unit": "sec",
        "sf": 100.0,
        "n_queries": 999,
        "load_avg_1m": 99.9,
        "queries_file": "BENCH_LOCAL_r99.json",
    }
    assert len(json.dumps(compact)) < 300


def test_headline_names_all_registered():
    """A renamed/removed registry entry must fail HERE, not in the
    driver's bench run (bench crashes on a missing spec name)."""
    sys.path.insert(0, _REPO)
    from data_engineering_for_e_commerce_logistics_spark.plans.registry import (
        all_specs,
    )

    specs = all_specs()
    missing = [n for n in bench.HEADLINE if n not in specs]
    assert missing == [], missing


def test_check_window_spends_no_slot_on_rows_only():
    """The driver verifies the FIRST 50 registrations (r01 evidence);
    a rows-only spec inside the window would waste a verified slot."""
    sys.path.insert(0, _REPO)
    from data_engineering_for_e_commerce_logistics_spark.plans.registry import (
        all_specs,
    )

    window = list(all_specs().items())[:50]
    oracle_less = [n for n, s in window if s.oracle is None]
    assert oracle_less == [], oracle_less


def test_never_checked_specs_sit_inside_window():
    """An oracle-paired spec that has never appeared in ANY committed
    CORRECTNESS artifact must be inside the 50-slot driver window —
    otherwise it could ship rounds of changes with zero driver
    evidence (the registry rotation policy's core invariant)."""
    import glob

    sys.path.insert(0, _REPO)
    from data_engineering_for_e_commerce_logistics_spark.plans.registry import (
        all_specs,
    )

    checked: set[str] = set()
    for p in glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")):
        try:
            with open(p) as f:
                checked |= set(json.load(f))
        except Exception:
            pass
    assert checked, "no CORRECTNESS artifacts found"
    specs = list(all_specs().items())
    outside = [
        n
        for i, (n, s) in enumerate(specs)
        if i >= 50 and s.oracle is not None and n not in checked
    ]
    assert outside == [], outside


def test_every_spec_benched_or_explicitly_excluded():
    """VERDICT r04 ask #7: no silently-unbenched registry spec — every
    name is either in HEADLINE (timed) or in BENCH_EXCLUDED (with a
    documented reason in bench.py), and never both."""
    sys.path.insert(0, _REPO)
    from data_engineering_for_e_commerce_logistics_spark.plans.registry import (
        all_specs,
    )

    specs = set(all_specs())
    benched = set(bench.HEADLINE)
    silent = specs - benched - bench.BENCH_EXCLUDED
    assert silent == set(), silent
    assert benched & bench.BENCH_EXCLUDED == set()
    # the exclusion list names only real specs (no typo rot)
    assert bench.BENCH_EXCLUDED <= specs
