"""Profiler edge semantics from SURVEY.md §2.A notes."""

import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from aws_cli_data_pipeline_tools_spark import profiler
from aws_cli_data_pipeline_tools_spark.sources import load_table


def test_labels_and_order(spark, sf_dir):
    out = profiler.profile(load_table(spark, "lineitem", sf_dir)).collect()
    assert [r["agg_type"] for r in out] == profiler.AGG_LABELS


def test_profile_matches_pandas(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir)
    out = {r["agg_type"]: r for r in profiler.profile(li, median_mode="exact").collect()}
    pdf = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    col = "l_extendedprice"
    assert out["1. count"][col] == pdf[col].notna().sum()
    assert out["2. count_distinct"][col] == pdf[col].nunique()
    assert out["3. mean"][col] == pytest.approx(round(pdf[col].mean(), 5), abs=1e-5)
    assert out["4. std"][col] == pytest.approx(round(pdf[col].std(ddof=1), 5), abs=1e-4)
    assert out["5. min"][col] == round(pdf[col].min(), 5)
    assert out["6. median"][col] == pytest.approx(pdf[col].median(), rel=0.05)
    assert out["7. max"][col] == round(pdf[col].max(), 5)
    assert out["8. sum"][col] == pytest.approx(round(pdf[col].sum(), 5), rel=1e-12)


def test_exact_median_matches_pandas(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir)
    out = {r["agg_type"]: r for r in profiler.profile(li, median_mode="exact").collect()}
    pdf = pd.read_parquet(f"{sf_dir}/lineitem.parquet")
    assert out["6. median"]["l_quantity"] == round(pdf["l_quantity"].median(), 5)


def test_approx_median_within_bounds(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir)
    out = {r["agg_type"]: r for r in profiler.profile(li, median_mode="approx").collect()}
    for col in ("l_quantity", "l_extendedprice"):
        assert out["5. min"][col] <= out["6. median"][col] <= out["7. max"][col]


def test_zero_numeric_columns(spark):
    df = spark.createDataFrame([("a",), ("b",)], "s string")
    out = profiler.profile(df)
    assert out.columns == ["agg_type"]
    assert out.count() == 0


def test_all_null_column(spark):
    df = spark.createDataFrame([(None,), (None,)], "x double")
    row = {r["agg_type"]: r["x"] for r in profiler.profile(df).collect()}
    assert row["1. count"] == 0.0
    assert row["2. count_distinct"] == 0.0
    assert row["3. mean"] is None
    assert row["8. sum"] is None


def test_single_row_stddev_null(spark):
    df = spark.createDataFrame([(1.5,)], "x double")
    row = {r["agg_type"]: r["x"] for r in profiler.profile(df).collect()}
    assert row["4. std"] is None  # sample stddev of 1 row
    assert row["1. count"] == 1.0


def test_oracle_safe_matches_plain(spark, sf_dir):
    """Decimal-sum moments == plain double moments to rounding precision."""
    li = load_table(spark, "lineitem", sf_dir)
    plain = {r["agg_type"]: r for r in profiler.profile(li, median_mode="exact").collect()}
    safe = {
        r["agg_type"]: r
        for r in profiler.profile(li, median_mode="exact", oracle_safe=True).collect()
    }
    for label in profiler.AGG_LABELS:
        for col in ("l_quantity", "l_discount", "l_extendedprice"):
            a, b = plain[label][col], safe[label][col]
            if a is None or b is None:
                assert a == b
            elif label == "4. std":
                assert a == pytest.approx(b, abs=1e-3)
            else:
                assert a == pytest.approx(b, rel=1e-9)


def test_profile_diff_self_all_equal(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir)
    diff = profiler.profile_diff(li, li, median_mode="exact")
    eq_cols = [c for c in diff.columns if c.endswith("_equal")]
    rows = diff.collect()
    assert len(rows) == 8
    assert all(all(r[c] for c in eq_cols) for r in rows)


def test_profile_diff_disjoint_columns(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    diff = profiler.profile_diff(li, orders)
    r = diff.collect()[0]
    # columns only in one side: present with NULL on the other & unequal
    assert r["l_quantity_target"] is None and r["l_quantity_base"] is not None
    assert r["o_totalprice_base"] is None and r["o_totalprice_target"] is not None
    assert not r["l_quantity_equal"] and not r["o_totalprice_equal"]


def test_profile_scan_count_plan(spark, sf_dir):
    """The re-architected plan reads the source exactly 3 times (one per
    specialized agg job — see profiler._agg_row), NOT the reference's N×8
    scalar-subquery shape (64 scans for lineitem)."""
    li = load_table(spark, "lineitem", sf_dir)
    plan = profiler.profile(li)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") + plan.count("BatchScan") == 3


def test_profile_hll_two_scans(spark, sf_dir, monkeypatch):
    """distinct_mode='approx' folds the HLL sketch into the basic codegen
    agg when the scan is wide enough to occupy the cluster: exactly 2
    source scans (basic+HLL, median) — one fewer pass than the
    exact-distinct plan. On a narrow input (this fixture) the r14
    concurrency split moves HLL to its own subtree: 3 scans that AQE
    runs concurrently. The distinct estimate stays within ±5% of exact
    (rsd 2%, ~2.5σ) either way."""
    li = load_table(spark, "lineitem", sf_dir)
    df = profiler.profile(li, distinct_mode="approx")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert profiler._narrow_scan(li)  # the fixture cannot fill the cluster
    assert plan.count("FileScan parquet") + plan.count("BatchScan") == 3
    # wide-scan posture: the fewer-passes shape stands
    monkeypatch.setattr(profiler, "_narrow_scan", lambda df: False)
    wide = profiler.profile(li, distinct_mode="approx")
    wplan = wide._jdf.queryExecution().executedPlan().toString()
    assert wplan.count("FileScan parquet") + wplan.count("BatchScan") == 2
    monkeypatch.undo()
    rows = {r.agg_type: r for r in df.collect()}
    exact = {
        r.agg_type: r
        for r in profiler.profile(li, median_mode="approx").collect()
    }
    for c in ["l_orderkey", "l_quantity", "l_discount"]:
        got = rows["2. count_distinct"][c]
        want = exact["2. count_distinct"][c]
        assert abs(got - want) <= 0.05 * max(want, 1.0), (c, got, want)
        # non-sketched stats identical between the two modes
        for label in ["1. count", "3. mean", "8. sum"]:
            assert rows[label][c] == exact[label][c], (label, c)


def test_profile_strings_stats_and_edges(spark):
    df = spark.createDataFrame(
        [("a", ""), ("bb", None), ("a", "xyz")], ["s1", "s2"]
    )
    rows = {r.agg_type: r for r in profiler.profile_strings(df).collect()}
    assert list(rows) == profiler.STRING_AGG_LABELS  # ordered by label
    assert rows["1. count"].s1 == 3.0 and rows["1. count"].s2 == 2.0  # non-null
    assert rows["2. count_distinct"].s1 == 2.0
    assert rows["3. avg_len"].s2 == 1.5  # ('' + 'xyz') / 2, nulls excluded
    assert rows["4. min_len"].s2 == 0.0 and rows["5. max_len"].s2 == 3.0
    assert rows["6. empty"].s2 == 1.0 and rows["6. empty"].s1 == 0.0


def test_profile_strings_no_string_columns(spark):
    df = spark.createDataFrame([(1, 2.0)], ["a", "b"])
    out = profiler.profile_strings(df)
    assert out.count() == 0 and out.columns == ["agg_type"]


def test_profile_temporal_stats(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1),), (dt.datetime(2024, 1, 3),), (None,)], ["ts"]
    )
    rows = {r.agg_type: r.ts for r in profiler.profile_temporal(df).collect()}
    assert list(rows) == profiler.TEMPORAL_AGG_LABELS
    assert rows["1. count"] == 2.0 and rows["2. count_distinct"] == 2.0
    assert rows["5. span_days"] == 2.0
    assert profiler.profile_temporal(spark.createDataFrame([(1,)], ["x"])).count() == 0


def test_check_constraints_catches_violations(spark):
    from aws_cli_data_pipeline_tools_spark.operators import quality as Q

    df = spark.createDataFrame(
        [(1, "a", 5.0), (1, "b", -2.0), (None, "z", 50.0)],
        "k int, s string, v double",
    )
    rows = Q.check_constraints(
        df,
        [
            Q.not_null("k"),                      # 1/3 null -> fail
            Q.not_null("k", max_null_frac=0.5),   # within budget -> pass
            Q.unique("k"),                        # dup (1,1) -> fail
            Q.accepted_values("s", ["a", "b"]),   # 'z' -> fail
            Q.in_range("v", 0, 10),               # -2 and 50 -> fail
            Q.unique("s"),                        # all distinct -> pass
        ],
    ).collect()
    assert not rows[0].passed and rows[0].metric == round(1 / 3, 6)
    assert rows[1].passed  # same rule, relaxed threshold
    out = {(r.rule, r.column): r for r in rows[2:]}
    assert out[("unique", "k")].metric == 1.0 and not out[("unique", "k")].passed
    assert out[("accepted_values", "s")].metric == 1.0
    assert out[("in_range", "v")].metric == 2.0
    assert out[("unique", "s")].passed
    # threshold variant passes
    rows = Q.check_constraints(df, [Q.not_null("k", 0.5)]).collect()
    assert rows[0].passed
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no rules"):
        Q.check_constraints(df, [])


def test_check_constraints_empty_input_passes_vacuously(spark):
    from aws_cli_data_pipeline_tools_spark.operators import quality as Q

    df = spark.createDataFrame([], "k int, s string, v double")
    rows = Q.check_constraints(
        df,
        [
            Q.not_null("k"),          # 0/0 must coalesce to 0.0, not NULL
            Q.unique("k"),
            Q.accepted_values("s", ["a"]),
            Q.in_range("v", 0, 10),
            Q.satisfies("p", "v > 0", 0),
        ],
    ).collect()
    for r in rows:
        assert r.passed is True, (r.rule, r.metric)
        assert r.metric == 0.0


def test_observe_metrics_rides_the_write(spark, tmp_path):
    from aws_cli_data_pipeline_tools_spark.operators import quality as Q

    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out, obs = Q.observe_metrics(
        df,
        {
            "n_rows": F.count(F.lit(1)),
            "sum_v": F.sum("v"),
            "n_null_v": F.count(F.when(F.col("v").isNull(), 1)),
        },
    )
    out.write.format("noop").mode("overwrite").save()  # the production action
    got = obs.get
    assert got == {"n_rows": 100, "sum_v": 9900, "n_null_v": 0}


def test_satisfies_custom_predicate(spark):
    from aws_cli_data_pipeline_tools_spark.operators import quality as Q

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, -5.0)], "k int, v double"
    )
    rows = Q.check_constraints(
        df,
        [
            Q.satisfies("v_pos_when_known", "v IS NULL OR v > 0", 0),
            Q.satisfies("v_known_and_pos", "v > 0", 0),  # NULL counts as violation
            Q.satisfies("loose", "v > 0", 2),
        ],
    ).collect()
    assert rows[0].metric == 1.0 and not rows[0].passed  # only -5 violates
    assert rows[1].metric == 2.0  # NULL row + -5
    assert rows[2].passed  # within budget


def test_profile_bigint_sum_does_not_overflow(spark):
    """r8 review: the plain-path SUM ran in the column's native long type,
    so ANSI mode crashed the whole profile (ARITHMETIC_OVERFLOW) once the
    column's mass passed 2^63 — snowflake ids, int64 nanosecond epochs,
    or any 100-TB fact column. The decimal(38,0) accumulator is exact."""
    df = spark.createDataFrame(
        [(2 * 10**18,)] * 6, "v bigint"
    )
    got = {r.agg_type: r.v for r in profiler.profile(df).collect()}
    assert got["8. sum"] == 1.2e19
    assert got["3. mean"] == 2e18


def test_profile_oracle_safe_large_magnitude_squares(spark):
    """r8 review: oracle_safe squared values into decimal(38,10) — only 28
    integer digits, so |v| >= ~1e14 crashed with NUMERIC_VALUE_OUT_OF_RANGE.
    Scale 4 extends headroom ~1e6x; std must come back finite."""
    df = spark.createDataFrame([(1e15,), (2e15,)], "v double")
    got = {
        r.agg_type: r.v
        for r in profiler.profile(
            df, median_mode="exact", oracle_safe=True
        ).collect()
    }
    assert got["8. sum"] == 3e15
    assert abs(got["4. std"] - 7.0710678118654752e14) / 1e15 < 1e-6


def test_profile_handles_dotted_column_names(spark):
    """r8 review: F.col parses dots as struct access, so a legal column
    named 'a.b' raised UNRESOLVED_COLUMN across the profiler family."""
    df = spark.createDataFrame([(1.0,), (3.0,)], ["a.b"])
    got = {r.agg_type: r["a.b"] for r in profiler.profile(df).collect()}
    assert got["1. count"] == 2.0 and got["8. sum"] == 4.0
    diff = profiler.profile_diff(df, df).collect()
    assert all(r["a.b_equal"] for r in diff)
    long = profiler.profile_long(df).collect()
    assert {r.column_name for r in long} == {"a.b"}


def test_profile_rejects_agg_type_column(spark):
    """A numeric column literally named agg_type would collide with the
    label column — rejected loudly."""
    df = spark.createDataFrame([(1.0,)], ["agg_type"])
    with pytest.raises(ValueError, match="agg_type"):
        profiler.profile(df)


def test_profile_strings_temporal_agg_type_collision_r10(spark):
    """r10 review: profile() guarded a numeric 'agg_type' input column,
    but the string/temporal profilers did not — a string column named
    agg_type produced a duplicate output column and an opaque
    AMBIGUOUS_REFERENCE at the sort instead of the clear error."""
    import pytest as _pytest

    from aws_cli_data_pipeline_tools_spark.profiler import (
        profile_strings,
        profile_temporal,
    )

    df = spark.createDataFrame([("x",)], "agg_type string")
    with _pytest.raises(ValueError, match="agg_type"):
        profile_strings(df)
    df2 = spark.createDataFrame(
        [("2024-01-01",)], "agg_type string"
    ).selectExpr("CAST(agg_type AS DATE) AS agg_type")
    with _pytest.raises(ValueError, match="agg_type"):
        profile_temporal(df2)


def test_narrow_scan_gates_on_resolved_max_partition_bytes(spark, monkeypatch):
    """A session set to ``64m`` gates on 64 MiB, as Spark resolves it —
    string-stripping the conf could not parse the suffix and fell back
    to 128 MiB."""
    from aws_cli_data_pipeline_tools_spark import sources

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    gate = (64 << 20) * spark.sparkContext.defaultParallelism
    df = spark.range(1)
    try:
        spark.conf.set(key, "64m")
        monkeypatch.setattr(sources, "plan_size_bytes", lambda _df: gate - 1)
        assert profiler._narrow_scan(df)
        monkeypatch.setattr(sources, "plan_size_bytes", lambda _df: gate)
        assert not profiler._narrow_scan(df)
    finally:
        spark.conf.set(key, old)
