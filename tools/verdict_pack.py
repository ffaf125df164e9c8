"""Judge-facing per-round evidence bundle (VERDICT r9 task 8).

Every number the round-end verdict needs, recomputed from the committed
artifacts by ONE canonical emitter — removing the transcription risk of
hand-collecting them from sweep logs, pytest output, and sidecars:

- **staleness**: per-round distribution of each catalog entry's LAST
  driver sample (CORRECTNESS_r*.json), plus never-sampled and
  latest-red name lists — the drain the rotation key works through.
- **bands**: the latest bench record's totals (``value``,
  ``value_first_pass``), per-pass spread fields and host-state fields
  (probe pair, load, steal, contended flag), with no cross-round ratio.
- **sweeps**: summaries parsed from check_oracle stdout logs passed as
  ``--sweep LABEL=path`` (the `N exact-match, M rows-only, K failed`
  tail line plus any failed entry names).
- **suite**: pytest collected-test count (``--no-pytest`` skips; no
  Spark session is started either way).

Usage:
  python tools/verdict_pack.py [--no-pytest]
      [--sweep sf0.01=/tmp/sweep001.log ...] [--out VERDICT_PACK.json]

Prints the bundle as one JSON document (and writes ``--out`` if given).
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)
sys.path.insert(0, HERE)  # bench_scale import (scale_bands)


def _round_no(path: str) -> int:
    m = re.search(r"r(\d+)", os.path.basename(path))
    return int(m.group(1)) if m else -1


def staleness() -> dict:
    import __spark_entry__ as entry
    from aws_cli_data_pipeline_tools_spark.catalog import all_specs

    counts, last_round, latest_red = entry._sample_history()
    names = list(all_specs())
    dist: dict[str, int] = {}
    for n in names:
        key = f"r{last_round[n]}" if n in last_round else "never"
        dist[key] = dist.get(key, 0) + 1
    return {
        "n_entries": len(names),
        "last_sampled_distribution": dict(
            sorted(dist.items(), key=lambda kv: _round_no(kv[0]))
        ),
        "never_sampled": sorted(n for n in names if n not in last_round),
        "latest_red": sorted(latest_red & set(names)),
        "next_sample_head": entry._rotated_names()[:10],
    }


def bands() -> dict:
    """The latest BENCH_r*.json's totals, per-pass spread fields and
    host-state fields, as recorded. No cross-round ratio: records from
    other hosts and core counts are not comparable."""
    paths = sorted(
        glob.glob(os.path.join(REPO, "BENCH_r*.json")), key=_round_no
    )
    if not paths:
        return {"error": "no BENCH_r*.json"}
    latest = paths[-1]
    try:
        rec = json.load(open(latest))
    except (OSError, ValueError) as e:
        return {"error": f"{latest}: {e}"}
    if isinstance(rec.get("parsed"), dict):
        rec = rec["parsed"]
    keys = (
        "sf", "value", "value_first_pass",
        # per-pass spread
        "suite_unstable", "n_suite_attempts", "idle_gate_loads",
        # host state
        "cpu_probe_sec", "cpu_probe_sec_end", "probe_divergent",
        "load_avg_t0", "load_avg_start", "load_avg_end", "steal_pct",
        "contended",
    )
    return {"latest_record": os.path.basename(latest)} | {
        k: rec.get(k) for k in keys
    }


def scale_bands() -> dict:
    """Latest BENCH_SCALE_r*.json vs the best probe-normalized prior
    cell recordings (VERDICT r11 task 5 — the 100× cipher cells get
    round-over-round diffs like the sf0.1 headline). Bands apply only
    to records with the same corpus key, which carries the core count."""
    from bench_scale import PROBE_RATIO_CLAMP, _recorded_scale_bands

    paths = sorted(
        glob.glob(os.path.join(REPO, "BENCH_SCALE_r*.json")), key=_round_no
    )
    if not paths:
        return {"error": "no BENCH_SCALE_r*.json"}
    latest = paths[-1]
    try:
        rec = json.load(open(latest))
    except (OSError, ValueError) as e:
        return {"error": f"{latest}: {e}"}
    probe = rec.get("cpu_probe_sec_end") or rec.get("cpu_probe_sec")
    recorded = _recorded_scale_bands(rec.get("corpus_key") or "")
    ratios = {}
    for name, sec in (rec.get("cells") or {}).items():
        band_rec = recorded.get(name)
        if not band_rec or not isinstance(sec, (int, float)):
            continue
        band, band_probe = band_rec
        scale = 1.0
        if band_probe and probe:
            lo, hi = PROBE_RATIO_CLAMP
            scale = min(hi, max(lo, probe / band_probe))
        if band:
            ratios[name] = round(sec / (band * scale), 3)
    worst = max(ratios.items(), key=lambda kv: kv[1]) if ratios else None
    return {
        "latest_record": os.path.basename(latest),
        "corpus_key": rec.get("corpus_key"),
        "total_sec": rec.get("value"),
        "cpu_probe_sec": rec.get("cpu_probe_sec"),
        "cpu_probe_sec_end": rec.get("cpu_probe_sec_end"),
        "probe_divergent": rec.get("probe_divergent"),
        "band_violations": rec.get("band_violations"),
        "worst_band_ratio": {"cell": worst[0], "ratio": worst[1]}
        if worst
        else None,
        "cell_band_ratios": ratios,
    }


def fuzz() -> dict:
    """Latest FUZZ_r*.json (tools/fuzz_oracle.py — VERDICT r12 task 1):
    the differential-fuzz gate sits beside the tri-scale sweep; green
    means 0 mismatches and 0 engine errors over the seed-pinned
    generated-query set."""
    paths = sorted(glob.glob(os.path.join(REPO, "FUZZ_r*.json")), key=_round_no)
    if not paths:
        return {"error": "no FUZZ_r*.json — run tools/fuzz_oracle.py"}
    latest = paths[-1]
    try:
        rec = json.load(open(latest))
    except (OSError, ValueError) as e:
        return {"error": f"{latest}: {e}"}
    return {
        "latest_record": os.path.basename(latest),
        "seed": rec.get("seed"),
        "n_queries": rec.get("n_queries"),
        "n_mismatch": rec.get("n_mismatch"),
        "n_errors": rec.get("n_errors"),
        "rows_compared": rec.get("rows_compared"),
        "green": rec.get("n_mismatch") == 0 and rec.get("n_errors") == 0,
    }


_SWEEP_TAIL = re.compile(
    r"(\d+) exact-match, (\d+) rows-only, (\d+) failed"
)
# check_oracle.py:463 prints each failure as '=== FAIL <name> ==='
_SWEEP_FAIL = re.compile(r"=== FAIL (\S+) ===")


def sweeps(args: list[str]) -> dict:
    out: dict[str, dict] = {}
    for a in args:
        label, _, path = a.partition("=")
        try:
            text = open(path).read()
        except OSError as e:
            out[label] = {"error": str(e)}
            continue
        m = None
        for m in _SWEEP_TAIL.finditer(text):
            pass  # keep the LAST tail line (logs may hold several runs)
        out[label] = (
            {
                "exact": int(m.group(1)),
                "rows_only": int(m.group(2)),
                "failed": int(m.group(3)),
                "failed_names": sorted(set(_SWEEP_FAIL.findall(text))),
            }
            if m
            else {"error": "no summary tail line found"}
        )
    return out


def suite_count() -> dict:
    try:
        r = subprocess.run(
            [sys.executable, "-m", "pytest", "tests/", "--collect-only", "-q"],
            cwd=REPO,
            capture_output=True,
            text=True,
            timeout=300,
        )
        m = re.search(r"(\d+) tests? collected", r.stdout)
        # returncode alone decides collect_errors: several test NAMES
        # contain the substring 'error', so grepping stdout made the
        # flag permanently true (r10 review). pytest exits 2 on
        # collection errors, 0/5 on clean collects.
        return {
            "collected": int(m.group(1)) if m else None,
            "collect_errors": r.returncode not in (0, 5),
        }
    except Exception as e:  # noqa: BLE001 - diagnostic bundle, never fatal
        return {"error": str(e)}


def main() -> int:
    argv = sys.argv[1:]
    sweep_args = [
        argv[i + 1]
        for i, a in enumerate(argv)
        if a == "--sweep" and i + 1 < len(argv)
    ]
    out_path = None
    for i, a in enumerate(argv):
        if a == "--out" and i + 1 < len(argv):
            out_path = argv[i + 1]
    pack = {
        "metric": "verdict_pack",
        "staleness": staleness(),
        "bands": bands(),
        "scale_bands": scale_bands(),
        "sweeps": sweeps(sweep_args),
        "fuzz": fuzz(),
    }
    if "--no-pytest" not in argv:
        pack["suite"] = suite_count()
    doc = json.dumps(pack, indent=2)
    print(doc)
    if out_path:
        with open(out_path, "w") as f:
            f.write(doc + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
