"""bench.py's host-stability gates: the probe-normalized whole-pass band
gate, the multi-thread capacity probe, and the contention rule. No Spark
session is needed."""

import os
import sys

repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, repo)

import bench  # noqa: E402


def test_band_ratio_arithmetic():
    bands = {"a": (1.0, 0.010), "b": (2.0, 0.020)}
    # same-probe host: ratio is plain actual/expected over banded queries;
    # the band-less query ("new") must not enter either side
    r = bench._band_ratio({"a": 1.5, "b": 1.5, "new": 99.0}, bands, 0.010)
    # expected = 1.0×1.0 + 2.0×clamp(0.010/0.020)=2.0×0.5 → 2.0; actual 3.0
    assert r == 1.5, r
    # uniformly 2×-slower probe rescales the expectation, not the verdict
    r_slow = bench._band_ratio({"a": 2.0}, {"a": (1.0, 0.010)}, 0.020)
    assert r_slow == 1.0, r_slow
    # clamp: a 10× probe swing contributes at most the clamp bound
    lo, hi = bench.PROBE_RATIO_CLAMP
    r_clamped = bench._band_ratio({"a": 1.0}, {"a": (1.0, 0.010)}, 0.100)
    assert r_clamped == round(1.0 / hi, 3), r_clamped
    # no bands → no ratio (never gates a first-ever recording)
    assert bench._band_ratio({"a": 1.0}, {}, 0.010) is None
    assert bench._band_ratio({}, {"a": (1.0, 0.01)}, 0.010) is None
    # unknown probe on either side → unscaled comparison, still a ratio
    assert bench._band_ratio({"a": 2.0}, {"a": (1.0, None)}, 0.010) == 2.0


def test_suite_gate_catches_stable_slow_window():
    """The r13 wound, replayed: single-thread probes stable, not
    contended — but the pass read well above its bands. The r14 gate
    must flag it; the same pass at clean-window cost must not re-run."""
    stable = dict(cpu_probe=0.016, cpu_probe_end=0.017, contended=False)
    # formally stable + slow vs bands → unstable (re-run)
    assert bench._suite_attempt_unstable(
        band_ratio=bench.SUITE_BAND_GATE + 0.01, **stable
    )
    # formally stable + fast vs bands → stable (report it)
    assert not bench._suite_attempt_unstable(
        band_ratio=bench.SUITE_BAND_GATE - 0.01, **stable
    )
    # no bands at all (fresh sf) → the old rules alone decide
    assert not bench._suite_attempt_unstable(band_ratio=None, **stable)
    # multi-thread capacity collapse mid-run → unstable even with the
    # single-thread pair and the band ratio both green
    assert bench._suite_attempt_unstable(
        band_ratio=0.8, mt_probe=0.05,
        mt_probe_end=0.05 * (bench.RERUN_DIVERGENCE + 0.05), **stable
    )
    assert not bench._suite_attempt_unstable(
        band_ratio=0.8, mt_probe=0.05, mt_probe_end=0.055, **stable
    )
    # gate calibration sanity: a clean pass of the current tree reads
    # ~0.8× its trailing bands, so the gate must leave real headroom
    # above 1.0 while still catching the measured ~1.3-1.4× degradation
    # scaled by that improvement (≈ 1.04-1.12)
    assert 1.0 < bench.SUITE_BAND_GATE < 1.15


def test_mt_probe_runs_and_headline_carries_new_scalars():
    mt = bench._mt_probe()
    assert isinstance(mt, float) and mt > 0
    rec = bench._headline_record(
        {"q": 1.0}, 1.0, 0.1, 1.0, 0.016, 0.016, 1.0, 0, False,
        mt_probe=0.05, mt_probe_end=0.06, band_ratio=0.81,
    )
    assert rec["mt_probe_sec"] == 0.05
    assert rec["mt_probe_sec_end"] == 0.06
    assert rec["band_ratio"] == 0.81
    # defaulted (unavailable) values stay bounded scalars
    rec2 = bench._headline_record(
        {"q": 1.0}, 1.0, 0.1, 1.0, 0.016, 0.016, 1.0, 0, False
    )
    assert rec2["mt_probe_sec"] == -1.0
    assert rec2["band_ratio"] == -1.0


def test_attempt_contended_needs_external_evidence_for_end_load():
    """r14 refinement: the suite's own 32-way execution raises the
    1-minute end-load past RETRY_LOAD on every honest full-throughput
    pass — end-load alone must NOT flag contention; external evidence
    (steal, probe divergence) must corroborate. Idle-gated start-load
    still flags unconditionally."""
    clean = dict(
        steal_pct=0.13, cpu_probe=0.0146, cpu_probe_end=0.0152,
        mt_probe=0.059, mt_probe_end=0.059,
    )
    # self-load only (the observed false positive): NOT contended
    assert not bench._attempt_contended(1.98, 5.74, **clean)
    # same end-load but steal corroborates: contended
    assert bench._attempt_contended(
        1.98, 5.74, 2.26, 0.0146, 0.0152, 0.059, 0.059
    )
    # same end-load but a probe pair diverges: contended
    assert bench._attempt_contended(
        1.98, 5.74, 0.13, 0.016, 0.016 * (bench.RERUN_DIVERGENCE + 0.05),
        0.059, 0.059,
    )
    # external load already present at (idle-gated) start: contended
    assert bench._attempt_contended(bench.RETRY_LOAD + 0.1, 1.0, **clean)
    # quiet box end to end: not contended
    assert not bench._attempt_contended(0.3, 2.0, **clean)
    # unknown steal (no /proc/stat) + elevated end-load + flat probes:
    # not contended — the probe pairs are the remaining arbiter
    assert not bench._attempt_contended(
        1.0, 6.0, None, 0.0146, 0.0152, 0.059, 0.059
    )
