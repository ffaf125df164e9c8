"""bench.py's measurement protocol on a fake clock: PASSES rotated passes,
each query reported as its median. No Spark session is needed."""

import os
import sys

repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, repo)

import bench  # noqa: E402


def _fake_runners(costs):
    """Runners on a fake clock: the i-th call of ``name`` advances the
    clock by ``costs[name][i]``. Returns (runners, clock, call order)."""
    now = [0.0]
    order = []
    left = {name: iter(secs) for name, secs in costs.items()}

    def runner(name):
        def run():
            order.append(name)
            now[0] += next(left[name])

        return run

    return {name: runner(name) for name in costs}, (lambda: now[0]), order


def test_passes_rotate_start_offset():
    from aws_cli_data_pipeline_tools_spark.catalog import all_specs

    # every headline query resolves in the registry
    missing = [q for q in bench.HEADLINE if q not in all_specs()]
    assert not missing, missing

    names = list(bench.HEADLINE) + list(bench.BENCH_ONLY)
    n = len(names)
    runners, clock, order = _fake_runners(
        {name: [1.0] * bench.PASSES for name in names}
    )
    passes = bench._run_passes(runners, clock)
    assert bench.PASSES == 3 and len(passes) == bench.PASSES
    runs = [order[i * n:(i + 1) * n] for i in range(bench.PASSES)]
    # pass 1 is list order; every pass runs every runner exactly once
    assert runs[0] == names
    assert all(sorted(r) == sorted(names) for r in runs)
    # each pass starts the same cyclic list at a different offset
    starts = [names.index(r[0]) for r in runs]
    assert len(set(starts)) == bench.PASSES, starts
    for r, k in zip(runs, starts):
        assert r == names[k:] + names[:k]
    # the index build precedes the probe that reads it
    assert runs[0].index("ann_ivf_index_build") < runs[0].index(
        "ann_ivf_index_probe"
    )
    # the sidecar's timings are in run order
    assert [list(p["timings"]) for p in passes] == runs


def test_headline_reports_per_query_median():
    runners, clock, _ = _fake_runners(
        {"a": [1.0, 5.0, 2.0], "b": [3.0, 1.0, 9.0], "c": [2.0, 2.0, 2.0]}
    )
    passes = bench._run_passes(runners, clock)
    assert [p["total"] for p in passes] == [6.0, 8.0, 13.0]
    rec = bench._headline_record(passes, 0.1, 1.0, 0.016, 0.017, 0.2)
    assert rec["queries"] == {"a": 2.0, "b": 3.0, "c": 2.0}
    assert rec["value"] == 7.0
    assert rec["value_first_pass"] == 6.0
    assert rec["suite_unstable"] is True  # 13 / 6 > UNSTABLE_PASS_RATIO
    assert rec["contended"] is False
    assert (rec["n_suite_attempts"], rec["suite_attempt"]) == (3, 0)
    assert rec["n_retries"] == 0
    assert rec["idle_gate_loads"].count(",") == bench.PASSES - 1
    assert rec["attempt_probes"] == "0.016:0.017"
    assert rec["mt_probe_sec"] == rec["mt_probe_sec_end"] == -1.0
    assert rec["band_ratio"] == -1.0
    assert set(rec) == {
        "metric", "value", "value_first_pass", "unit", "queries", "sf",
        "load_avg_t0", "cpu_probe_sec", "cpu_probe_sec_end",
        "probe_divergent", "load_avg_start", "load_avg_end", "n_retries",
        "contended", "idle_gate_loads", "suite_attempt", "suite_unstable",
        "n_suite_attempts", "attempt_probes", "steal_pct", "mt_probe_sec",
        "mt_probe_sec_end", "band_ratio",
    }
    # telemetry labels the run; it never changes the reported timings
    busy = bench._headline_record(passes, 0.1, 9.0, 0.016, 0.9, 7.5)
    assert busy["contended"] is True and busy["probe_divergent"] is True
    assert (busy["queries"], busy["value"], busy["value_first_pass"]) == (
        rec["queries"], rec["value"], rec["value_first_pass"]
    )
    # passes within UNSTABLE_PASS_RATIO of each other: stable
    runners, clock, _ = _fake_runners({"a": [1.0, 1.2, 1.1]})
    steady = bench._headline_record(
        bench._run_passes(runners, clock), 0.1, 1.0, 0.016, 0.016, None
    )
    assert steady["suite_unstable"] is False
    assert steady["steal_pct"] == -1.0 and steady["contended"] is False
