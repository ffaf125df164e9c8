"""Runner / renderer / introspection / registry — reference-parity surface."""

import pytest

from aws_cli_data_pipeline_tools_spark import render, runner
from aws_cli_data_pipeline_tools_spark.introspect import (
    NO_CONFIG,
    UNSET,
    UNSET_ENCRYPTION,
    information_schema_columns,
    list_workgroups,
)
from aws_cli_data_pipeline_tools_spark.registry import FunctionRegistry, PayloadError


def test_sql_success(spark):
    run = runner.sql(spark, "SELECT 1 AS x, 'a' AS y")
    assert run.state == runner.SUCCEEDED
    assert run.require_succeeded().collect()[0][0] == 1


def test_sql_parse_error_is_failed_state(spark):
    run = runner.sql(spark, "SELEKT nope")
    assert run.state == runner.FAILED
    assert "ParseException" in run.state_change_reason
    with pytest.raises(RuntimeError):
        run.require_succeeded()


def test_sql_file(spark, tmp_path):
    p = tmp_path / "q.sql"
    p.write_text("SELECT 41 + 1 AS answer")
    assert runner.sql_file(spark, p).require_succeeded().collect()[0].answer == 42


GOLDEN_TSV = "x\ty\tz\n1\talpha\t\n2\t\t3.5\n"
GOLDEN_ALIGNED = "x  y      z\n1  alpha\n2         3.5\n"


def _fixture_df(spark):
    return spark.createDataFrame(
        [(1, "alpha", None), (2, None, 3.5)], "x int, y string, z double"
    )


def test_tsv_golden(spark):
    assert render.to_tsv(_fixture_df(spark)) == GOLDEN_TSV


def test_aligned_golden(spark):
    assert render.render_aligned(_fixture_df(spark)) == GOLDEN_ALIGNED


def test_truncation_notice(spark):
    df = spark.range(10).selectExpr("id AS n")
    out = render.to_tsv(df, max_rows=3)
    assert "truncated at 3 rows" in out
    assert len(out.strip().splitlines()) == 5  # header + 3 rows + notice


def test_information_schema_filter(spark, sf_dir):
    from aws_cli_data_pipeline_tools_spark.sources import load_table

    load_table(spark, "region", sf_dir).createOrReplaceTempView("region")
    out = information_schema_columns(spark, table="region").collect()
    assert [(r.column_name, r.data_type) for r in out] == [
        ("r_regionkey", "int"),
        ("r_name", "string"),
    ]
    assert all(r.table_name == "region" for r in out)


def test_workgroups_listing(spark):
    from aws_cli_data_pipeline_tools_spark.session import PROFILES

    # one profile with no result-config block at all (aws-athena-workgroup.sh:48-49)
    PROFILES["bare"] = {"state": "ENABLED", "conf": {}}
    try:
        rows = {r["name"]: r for r in list_workgroups(spark).collect()}
    finally:
        del PROFILES["bare"]
    assert rows["primary"]["state"] == "ENABLED"
    # missing EncryptionOption → なし (:46), not the output-location default
    assert rows["primary"]["encryption"] == UNSET_ENCRYPTION
    assert rows["primary"]["output_location"] != UNSET  # set in the profile
    assert rows["bare"]["output_location"] == NO_CONFIG
    assert rows["bare"]["encryption"] == UNSET_ENCRYPTION


def test_registry_invoke_and_apply(spark):
    reg = FunctionRegistry(spark)
    reg.register("double_it", lambda p: {"out": p["x"] * 2}, "doubles x")
    assert reg.list() == ["double_it"]
    assert reg.invoke("double_it", {"x": 21}) == {"out": 42}
    assert reg.invoke("double_it", '{"x": 3}') == {"out": 6}
    with pytest.raises(PayloadError):
        reg.invoke("double_it", "{broken")
    with pytest.raises(KeyError):
        reg.invoke("missing_fn", "{}")
    df = spark.createDataFrame([('{"x": 5}',)], "payload string")
    out = reg.apply(df, "double_it", "payload", "resp").collect()[0]["resp"]
    assert out == '{"out": 10}'


def test_registry_vectorized(spark):
    reg = FunctionRegistry(spark)
    reg.register_vectorized("vec_double", lambda p: {"out": p["x"] * 2})
    assert reg.invoke("vec_double", {"x": 4}) == {"out": 8}
    df = spark.createDataFrame(
        [(f'{{"x": {i}}}',) for i in range(10)], "payload string"
    )
    rows = reg.apply(df, "vec_double", "payload", "resp").collect()
    assert sorted(r["resp"] for r in rows)[0] == '{"out": 0}'
    assert len(rows) == 10


def test_registry_grouped_agg_udaf(spark):
    reg = FunctionRegistry(spark)

    def spread(s):  # noqa: ANN001 — max - min per group
        return float(s.max() - s.min())

    reg.register_grouped_agg("spread_udaf", spread, "double")
    assert "spread_udaf" in reg.list()
    spark.createDataFrame(
        [("a", 1.0), ("a", 4.0), ("b", 10.0)], "k string, v double"
    ).createOrReplaceTempView("t_udaf_src")
    rows = spark.sql(
        "SELECT k, spread_udaf(v) AS sp FROM t_udaf_src GROUP BY k ORDER BY k"
    ).collect()
    assert [(r.k, r.sp) for r in rows] == [("a", 3.0), ("b", 0.0)]


def test_registry_udtf_lateral(spark):
    from aws_cli_data_pipeline_tools_spark.functions.udtfs import (
        TOKENIZE_RETURN_TYPE,
        TokenizeUDTF,
    )

    reg = FunctionRegistry(spark)
    reg.register_table("t_tokenize", TokenizeUDTF, TOKENIZE_RETURN_TYPE)
    assert "t_tokenize" in reg.list()
    spark.createDataFrame(
        [(1, "Hello, hello WORLD"), (2, None), (3, "a-b a")], "id int, text string"
    ).createOrReplaceTempView("t_udtf_src")
    rows = spark.sql(
        "SELECT s.id, t.token FROM t_udtf_src s, LATERAL t_tokenize(s.text) t"
    ).collect()
    got = sorted((r.id, r.token) for r in rows)
    assert got == [(1, "hello"), (1, "hello"), (1, "world"), (3, "a"), (3, "a"), (3, "b")]


def test_survey_coverage_map_matches_registry():
    """SURVEY.md §8 is the judge's line-by-line coverage checklist: every
    registered query must appear there and every query-shaped name it
    cites must be registered (tools/check_survey_coverage.py — found 13
    unlisted entries when introduced in r7). No Spark needed."""
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    old = os.getcwd()
    os.chdir(repo)
    try:
        from check_survey_coverage import survey_registry_diff

        unlisted, stale = survey_registry_diff()
    finally:
        os.chdir(old)
    assert not unlisted, f"registered but missing from SURVEY §8: {sorted(unlisted)}"
    assert not stale, f"SURVEY §8 cites unregistered query-shaped names: {sorted(stale)}"


def test_driver_row_classification_and_rotation():
    """VERDICT r8 minor 1 + task 2: only known-failure driver-row shapes
    are red (an unknown future non-failure marker must NOT be pinned to
    the front of the rotation forever), and the driver sample order
    re-confirms the STALEST entries first (oldest last-sampled round),
    so early-round rows get re-checked against the current code."""
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    import __spark_entry__ as entry

    ok = {"rows_match": True, "schema_match": True, "hash_match": True,
          "spark_rows": 10, "oracle_rows": 10, "err": None}
    assert not entry._row_is_red(ok)
    # the driver's current weaker-check marker
    assert not entry._row_is_red({**ok, "hash_match": None, "err": "no_oracle"})
    # a FUTURE non-failure marker: unknown err string but the query ran
    # (spark_rows recorded) and nothing mismatched → not red
    assert not entry._row_is_red(
        {"rows_match": None, "schema_match": None, "hash_match": None,
         "spark_rows": 42, "err": "rows_only_v2"}
    )
    # explicit mismatch → red, regardless of err
    assert entry._row_is_red({**ok, "hash_match": False})
    assert entry._row_is_red({**ok, "rows_match": False, "err": "no_oracle"})
    # harness failure: error with no evidence the Spark query ran → red
    assert entry._row_is_red(
        {"rows_match": None, "schema_match": None, "hash_match": None,
         "spark_rows": None, "err": "AnalysisException: ..."}
    )
    # oracle-side failure: exception TEXT (not marker-shaped) stays red
    # even when the Spark side ran and recorded rows (r9 review)
    assert entry._row_is_red(
        {"rows_match": None, "schema_match": None, "hash_match": None,
         "spark_rows": 42, "err": "Binder Error: column missing"}
    )
    assert entry._row_is_red("not-a-dict")

    # rotation: among previously-sampled non-red names, last-sampled round
    # is non-decreasing through the order (stalest first); red-at-latest
    # names (if any) all come before everything else
    counts, last_round, latest_red = entry._sample_history()
    order = entry._rotated_names()
    assert len(order) == len(set(order))
    non_red = [n for n in order if n not in latest_red and counts.get(n, 0) > 0]
    rounds = [last_round[n] for n in non_red]
    assert rounds == sorted(rounds), "rotation must be stalest-first"
    # red names still in the registry must lead the rotation (a red name
    # REMOVED from the catalog since its last sample simply isn't in the
    # order — indexing it would crash, r9 review)
    live_red = latest_red & set(order)
    if live_red:
        cutoff = max(order.index(n) for n in live_red)
        assert cutoff < len(live_red), "red entries must lead the rotation"


def test_bench_headline_line_bounded():
    """The driver's stdout capture is a bounded TAIL; r7's official bench
    record was lost because an unbounded per-query trail shared the final
    line with the headline. Lock the contract: the final-line record at
    the FULL current headline (catalog + bench-only rows) with worst-case
    float widths stays far under any plausible capture window, contains
    only scalar per-query fields, and carries no trail keys."""
    import json
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    import bench

    names = list(bench.HEADLINE) + list(bench.BENCH_ONLY)
    timings = {n: 99999.999 for n in names}  # worst-case float width
    passes = [
        {"load_start": 99.99, "total": 999999.999, "timings": timings}
    ] * bench.PASSES
    out = bench._headline_record(
        passes,
        sf=0.1,
        load_t0=99.99,
        cpu_probe=99.9999,
        cpu_probe_end=99.9999,
        steal_pct=99.99,
    )
    line = json.dumps(out)
    assert len(line) < 4096, f"headline line {len(line)}B — capture risk"
    assert "passes" not in out and "spread" not in out
    # every value is a scalar or a flat name->scalar map: nothing in the
    # record can grow with anything but the headline count itself
    for k, v in out.items():
        if k == "queries":
            assert all(isinstance(x, (int, float)) for x in v.values())
        else:
            assert isinstance(v, (int, float, str, bool)), (k, type(v))
    assert json.loads(line) == out
    assert len(out["queries"]) == len(names)
    # the judge-facing host-state fields are first-class (VERDICT r9
    # tasks 3+6): start/end probe pair, divergence verdict, contention
    assert out["cpu_probe_sec_end"] == 99.9999
    assert out["probe_divergent"] is False
    assert out["contended"] is True
    assert out["idle_gate_loads"] == ",".join(["99.99"] * bench.PASSES)
    assert out["n_suite_attempts"] == bench.PASSES
    assert out["attempt_probes"] == "99.9999:99.9999"


def test_bench_probe_divergence_rule():
    """VERDICT r9 task 3: a mid-run host-speed collapse (the measured 37×
    intra-day probe swing) must flag the run."""
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    import bench

    # the rule itself, on a synthetic divergent pair
    assert bench._probe_divergent(0.0134, 0.5076) is True   # the r9 pair
    assert bench._probe_divergent(0.5076, 0.0134) is True   # either way
    assert bench._probe_divergent(0.0134, 0.0150) is False  # normal noise
    assert bench._probe_divergent(0.0134, 0.0134 * 1.49) is False
    assert bench._probe_divergent(0.0134, 0.0134 * 1.51) is True
    assert bench._probe_divergent(None, 0.5) is False       # pre-r10 rows
    assert bench._probe_divergent(0.5, None) is False
    assert bench._probe_divergent(0.0, 0.5) is False


def test_invoke_rejects_non_scalar_registrations(spark):
    """r8 review: invoke() blindly called entry.fn(payload) — a UDTF class
    or Series→scalar aggregate crashed or returned a class instance; both
    must be rejected with a clear TypeError."""
    reg = FunctionRegistry(spark)

    class _T:
        def eval(self, s):
            yield (s,)

    reg.register_table("t_kind_check", _T, "x string")

    def geo(s):
        return float(s.sum())

    reg.register_grouped_agg("g_kind_check", geo, "double")
    with pytest.raises(TypeError, match="table"):
        reg.invoke("t_kind_check", "{}")
    with pytest.raises(TypeError, match="grouped_agg"):
        reg.invoke("g_kind_check", "{}")
    with pytest.raises(TypeError, match="table"):
        reg.apply(spark.range(1), "t_kind_check", "id", "out")


def test_information_schema_schema_filter_is_real(spark, sf_dir):
    """r8 review: the schema arg used to be stamped onto every row instead
    of filtering, so WHERE table_schema='sales' matched every table. Temp
    views live in the session namespace labeled 'default'; a nonexistent
    schema matches nothing."""
    from aws_cli_data_pipeline_tools_spark.sources import register_views

    register_views(spark, sf_dir, ["region"])
    got = information_schema_columns(spark, table="region").collect()
    assert len(got) == len(spark.table("region").columns)
    assert all(r.table_schema == "default" for r in got)
    assert (
        information_schema_columns(spark, schema="sales").count() == 0
    )


def test_list_workgroups_missing_state_stays_null(spark, monkeypatch):
    """r8 review: a profile without a state rendered the OutputLocation
    placeholder in the state column; state has no reference default."""
    from aws_cli_data_pipeline_tools_spark import session as s

    monkeypatch.setitem(
        s.PROFILES, "stateless", {"output_location": "file:/tmp/x"}
    )
    rows = {r["name"]: r for r in list_workgroups(spark).collect()}
    assert rows["stateless"].state is None
    assert rows["stateless"].output_location == "file:/tmp/x"


def test_verdict_pack_sections():
    """tools/verdict_pack.py (VERDICT r9 task 8): the evidence bundle's
    sections compute from the committed artifacts without a Spark
    session and carry the fields the per-round verdict reads."""
    import importlib.util
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "verdict_pack", os.path.join(repo, "tools", "verdict_pack.py")
    )
    vp = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(vp)

    s = vp.staleness()
    assert s["n_entries"] >= 300
    assert sum(s["last_sampled_distribution"].values()) == s["n_entries"]
    b = vp.bands()
    assert b.get("latest_record", "").startswith("BENCH_r")
    assert {"value", "value_first_pass", "suite_unstable", "contended"} <= set(b)
    sb = vp.scale_bands()
    assert sb.get("latest_record", "").startswith("BENCH_SCALE_r")
    # sweep log parsing on a synthetic tail
    import tempfile

    with tempfile.NamedTemporaryFile("w", suffix=".log", delete=False) as f:
        f.write("noise\n301 exact-match, 0 rows-only, 0 failed\n")
        path = f.name
    try:
        out = vp.sweeps([f"sf0.01={path}"])["sf0.01"]
        assert out == {
            "exact": 301, "rows_only": 0, "failed": 0, "failed_names": []
        }
    finally:
        os.unlink(path)


def test_duckdb_map_subscript_semantics_pin():
    """The map_funcs/map_funcs2 oracle twins use DuckDB's pre-1.3
    map[key] semantics (single-element LIST, subscripted [1], probed
    with len()=0). DuckDB >= 1.3 returns the value directly, which
    would Binder-error or silently change those oracles. This behavior
    probe fails LOUDLY on upgrade instead of letting the entries go
    red with an opaque error (r10 review)."""
    import duckdb

    out = duckdb.sql("SELECT map([1], [2])[1] AS v").fetchone()[0]
    assert out == [2], (
        f"DuckDB map[key] now returns {out!r} (value semantics, >=1.3): "
        "rewrite the map_funcs/map_funcs2 oracle twins in "
        "catalog/relational.py (drop the [1] subscript and the "
        "len()-based missing-key probe) before upgrading."
    )


def test_check_oracle_canon_cross_engine_types_r10():
    """r10 review of the gate itself: binary values canonize identically
    from Spark's bytearray and DuckDB's bytes; struct rows (Spark Row)
    and DuckDB dicts canonize through sorted pairs."""
    import importlib.util
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "check_oracle_mod", os.path.join(repo, "tools", "check_oracle.py")
    )
    co = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(co)

    assert co.canon(bytearray(b"ab")) == co.canon(b"ab") == "0xXX".replace(
        "XX", "6162"
    )
    from pyspark.sql import Row

    assert co.canon(Row(b=2, a=1)) == co.canon({"a": 1, "b": 2})
    assert co.canon([1, None, 2.5]) == "[1, ␀, 2.5]"


def test_survey_coverage_identifier_universe_r10():
    """r10 review: annotated parameter names must resolve into the
    identifier universe (the old two-group findall emitted tuples that
    never string-matched - 502 junk entries, 0 contributions)."""
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    old = os.getcwd()
    os.chdir(repo)
    try:
        from check_survey_coverage import _source_identifiers

        idents = _source_identifiers()
    finally:
        os.chdir(old)
    assert all(isinstance(x, str) for x in idents)
    # text_col appears only as an annotated parameter in many signatures
    assert "text_col" in idents and "sf_dir" in idents


def test_bench_scale_band_collection(tmp_path):
    """BENCH_SCALE band rule (VERDICT r11 task 5): best probe-normalized
    cell per corpus key, mismatched keys and divergent-probe rounds
    excluded. The key carries the core count, so bands recorded on one
    core count never judge a run on another."""
    import json
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(repo, "tools"))
    sys.path.insert(0, repo)
    from bench_scale import _corpus_key, _recorded_scale_bands

    def write(name, **kw):
        rec = {
            "corpus_key": "sf0.1|100x",
            "cpu_probe_sec": 0.016,
            "cpu_probe_sec_end": 0.016,
            "probe_divergent": False,
            "cells": {},
        }
        rec.update(kw)
        (tmp_path / name).write_text(json.dumps(rec))

    # r1: slow host (probe 0.032) reads 40s; r2: fast host reads 25s —
    # r1's probe-normalized cost (40/0.032=1250) beats r2's
    # (25/0.016=1562), so the band is r1's recording
    write("BENCH_SCALE_r01.json", cpu_probe_sec_end=0.032,
          cells={"jaccard@100x": 40.0})
    write("BENCH_SCALE_r02.json", cells={"jaccard@100x": 25.0,
                                         "span@100x": 30.0})
    # divergent round with an impossibly-good cell: must be excluded
    write("BENCH_SCALE_r03.json", probe_divergent=True,
          cells={"jaccard@100x": 0.1})
    # different corpus key: must be excluded
    write("BENCH_SCALE_r04.json", corpus_key="sf0.01|100x",
          cells={"jaccard@100x": 0.2})

    bands = _recorded_scale_bands("sf0.1|100x", search_dir=str(tmp_path))
    assert bands["jaccard@100x"] == (40.0, 0.032)
    assert bands["span@100x"] == (30.0, 0.016)
    assert _recorded_scale_bands("sf9|1x", search_dir=str(tmp_path)) == {}

    # the committed artifacts (32-core runs, keyed before the core count
    # was) hold bands, and none of them applies to a 4-core run
    key = _corpus_key(os.path.join("testdata", "sf0.1", ""), 100, 4)
    assert key == "sf0.1|100x|c4"
    assert _recorded_scale_bands("sf0.1|100x", search_dir=repo)
    assert _recorded_scale_bands(key, search_dir=repo) == {}
