"""Table profiler + profile differ — the reference's flagship operator.

The reference's ``vimdiff`` command (``aws-athena.sh:161-198``) profiles two
tables and diffs them: for every *numeric* column (type regex at
``aws-athena.sh:68``) it emits 8 statistics labeled ``1. count`` … ``8. sum``
(``aws-athena.sh:81-100``), pivots long→wide via ``map_agg`` + map subscripts
(``aws-athena.sh:112-122``), and orders rows by the label (``:120``).

The reference composes N_cols×8 *scalar subqueries* chained by UNION ALL — one
full table scan per statistic unless the remote optimizer commons them up.
Here the plan is re-architected Spark-first: three specialized single-row
``df.agg()`` jobs — plain codegen stats, COUNT DISTINCT, median — crossJoined
(see ``_agg_row`` for why mixing them in one agg is a ~10× trap), then a
driver-cheap ``stack`` projection into the wide (agg_type × columns) shape —
no pivot shuffle at all. At 100 TB this is three column-pruned scans, each
fully partial-aggregated, instead of N×8.

Semantics preserved from the emitted SQL (see SURVEY.md §2 notes):
- labels exactly ``1. count`` … ``8. sum``; final row order by that label;
- mean/std/min/median/max/sum rounded to 5 (``round(x, 5)``);
- ``count`` is the non-null count; profiling covers numeric columns only;
- a table with zero numeric columns yields an empty profile (the reference's
  awk loop body never runs — we return an empty DataFrame with the schema);
- median: the reference emits ``approx_percentile(c, 0.5)`` (Trino t-digest).
  Cross-engine exact parity is impossible (Spark uses Greenwald-Khanna), so
  ``median_mode`` selects ``"approx"`` (reference-shaped, default) or
  ``"exact"`` (oracle-checkable against DuckDB's ``median``).

Oracle determinism (``oracle_safe=True``): floating-point SUM/AVG/STDDEV over
doubles are order-dependent — a partitioned Spark sum and a sequential DuckDB
sum can differ in low bits, which breaks exact value-hash comparison. The
oracle-safe variant computes the moment statistics from **exact decimal
sums** (order-independent; S1 at scale 10, S2 at scale 4 — see _stat_exprs
for the overflow-headroom rationale) with explicit double formulas
afterwards, so both engines execute bit-identical IEEE arithmetic:
``mean = S1/n``, ``std = sqrt((S2 - S1*S1/n) / (n-1))``, ``sum = S1``.
"""

from __future__ import annotations

from typing import Literal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Ordered stat labels, verbatim from aws-athena.sh:81-100.
AGG_LABELS = [
    "1. count",
    "2. count_distinct",
    "3. mean",
    "4. std",
    "5. min",
    "6. median",
    "7. max",
    "8. sum",
]

MedianMode = Literal["approx", "exact"]
DistinctMode = Literal["exact", "approx"]


def numeric_columns(df: DataFrame) -> list[str]:
    """Columns the reference's profiler would select.

    Mirrors the type regex at ``aws-athena.sh:68``
    (tinyint|smallint|integer|bigint|real|double|decimal.*) — i.e. Spark's
    ``NumericType`` family. Schema-only; no data scan.
    """
    return [f.name for f in df.schema.fields if isinstance(f.dataType, T.NumericType)]


def _qcol(name: str) -> Column:
    """Column reference by LITERAL name: F.col parses dots as struct access,
    so a legal column named 'a.b' resolved via f-string interpolation raised
    UNRESOLVED_COLUMN across the profiler family (r8 review). Backtick-quote
    (with `` escaping) so the name is taken verbatim."""
    return F.col("`" + name.replace("`", "``") + "`")


def _stat_exprs(
    col: str,
    median_mode: MedianMode,
    oracle_safe: bool = False,
    integral: bool = False,
) -> list[Column]:
    """The 8 aggregate expressions for one column, in AGG_LABELS order.

    Everything is cast to double so the wide profile has a uniform column
    type; mean/std/min/median/max/sum are round(x, 5) per aws-athena.sh:87-100
    (count/count_distinct are integral, round is a no-op on them).

    ``integral`` switches the plain-path SUM to an exact decimal(38,0)
    accumulator: ANSI mode is pinned on (session.py), and a native bigint
    SUM overflows — crashing the whole profile — once the column's total
    mass passes 2^63 (snowflake ids, int64 nanosecond epochs, or simply a
    100-TB fact table; r8 review). decimal(38,0) is exact like the native
    sum (so DuckDB twins agree unchanged) with 10^38 of headroom.
    """
    c = _qcol(col)
    median = (
        F.percentile_approx(c, F.lit(0.5))
        if median_mode == "approx"
        else F.median(c)
    )
    if oracle_safe:
        # Order-independent moments: exact decimal sums, then explicit double
        # formulas (identical IEEE ops on both engines → bitwise-equal output).
        # s2 accumulates at scale 4, not 10: decimal(38,10) left only 28
        # integer digits, so sum-of-squares crashed (ANSI) for |v| ≥ ~1e14
        # (r8 review). Scale 4 is exact for ≤2-decimal data (squares then
        # have ≤4 decimals) and extends headroom to |v| ≈ 1e17 per value;
        # oracles.py mirrors the same scale so both engines still round the
        # same doubles identically.
        n = F.count(c).cast("double")
        s1 = F.sum(c.cast("decimal(38,10)")).cast("double")
        s2 = F.sum((c.cast("double") * c.cast("double")).cast("decimal(38,4)")).cast("double")
        mean = s1 / n
        var = (s2 - s1 * s1 / n) / F.nullif(n - F.lit(1.0), F.lit(0.0))
        std = F.sqrt(var)
        sum_ = s1
    else:
        mean = F.avg(c).cast("double")
        std = F.stddev(c).cast("double")  # sample stddev in both engines
        sum_ = (
            F.sum(c.cast("decimal(38,0)")) if integral else F.sum(c)
        ).cast("double")
    exprs = [
        F.count(c).cast("double"),
        F.count_distinct(c).cast("double"),
        F.round(mean, 5),
        F.round(std, 5),
        F.round(F.min(c).cast("double"), 5),
        F.round(median.cast("double"), 5),
        F.round(F.max(c).cast("double"), 5),
        F.round(sum_, 5),
    ]
    return [e.alias(f"{col}__{i}") for i, e in enumerate(exprs)]


def _narrow_scan(df: DataFrame) -> bool:
    """True when the input is provably too small for its scan to occupy
    the cluster: plan-size estimate < maxPartitionBytes ×
    defaultParallelism. Driver-side plan inspection only; unknown
    estimates count as NOT narrow (keep the fewer-passes shape)."""
    from .sources import max_partition_bytes, plan_size_bytes

    est = plan_size_bytes(df)
    if est is None:
        return False
    spark = df.sparkSession
    return est < max_partition_bytes(spark) * spark.sparkContext.defaultParallelism


def _agg_row(
    df: DataFrame,
    cols: list[str],
    median_mode: MedianMode,
    oracle_safe: bool,
    distinct_mode: DistinctMode = "exact",
) -> DataFrame:
    """One-row DataFrame with all 8×N stat columns.

    Split into THREE agg jobs crossJoined (each 1 row, so the joins are
    free): mixing COUNT DISTINCT (Expand ×N+1), percentile buffers
    (ObjectHashAggregate), and plain codegen aggregates in a single agg
    forces everything through an N+1-times-expanded sort-aggregate — ~10×
    slower than the three specialized plans run separately, at any scale.

    ``distinct_mode="approx"`` swaps exact COUNT DISTINCT for HLL++
    (``approx_count_distinct``, rsd 2%) — a plain partial-aggregable
    sketch that rides WITH the basic codegen agg, so the Expand-based
    distinct scan disappears entirely and the profile costs **two**
    column-pruned passes (basic+HLL, median) instead of three. The 100 TB
    posture for a wide fact table where ±2.5% distinct counts are fine.

    Narrow-scan concurrency split (r14): when the input is too small to
    occupy the cluster at all — plan-size estimate below
    ``maxPartitionBytes × defaultParallelism``, i.e. the combined scan
    cannot parallelize past a handful of tasks — the HLL sketches move
    to their OWN agg subtree crossJoined with the rest. The three agg
    stages are independent, so AQE runs them concurrently and the wall
    drops from max(basic+HLL, median) to ~max(basic, HLL, median):
    measured 3.78 → 2.99 s median on profile_lineitem_hll at sf0.1
    (whose single-row-group fixture pins every scan to one effective
    task; the HLL update loop alone is 1.55 s of the 3.2 s combined
    scan CPU). Above the threshold the scan itself fills the cluster
    and the two-pass shape (less I/O) stands unchanged. Both gate knobs
    are session confs — nothing is tuned to the local core count. A
    surgical fan_out on the combined scan was measured INSTEAD and
    rejected (+1.1 s med: the round-robin exchange moves the full
    numeric rows, costing more than the serial scan it relieves — same
    verdict as r13's blanket-reader A/B). Results are identical either
    way: the same aggregate expressions evaluate over the same rows,
    and the stack projection selects columns by name.
    """
    all_exprs = {
        c: _stat_exprs(
            c,
            median_mode,
            oracle_safe,
            integral=isinstance(df.schema[c].dataType, T.IntegralType),
        )
        for c in cols
    }
    basic_idx = [0, 2, 3, 4, 6, 7]  # count, mean, std, min, max, sum
    basic_cols = [all_exprs[c][i] for c in cols for i in basic_idx]
    # NO fan_out anywhere in the profiler (r13 optimization round,
    # measured): a parallelism floor on the basic/HLL scan read ~+0.85 s
    # on profile_lineitem_hll (32-way sketch partials cost more to merge
    # than the single-task scan saves) and neutral on the approx
    # profile; the distinct scan's Expand partial-dedup and the median
    # sort buffers also prefer the single-partition bench scan.
    median = df.agg(*[all_exprs[c][5] for c in cols])
    if distinct_mode == "approx":
        hll = [
            F.approx_count_distinct(_qcol(c), rsd=0.02)
            .cast("double")
            .alias(f"{c}__1")
            for c in cols
        ]
        if _narrow_scan(df):
            # concurrency split — see the docstring above
            return (
                df.agg(*basic_cols).crossJoin(df.agg(*hll)).crossJoin(median)
            )
        basic = df.agg(*basic_cols, *hll)
        return basic.crossJoin(median)
    basic = df.agg(*basic_cols)
    distinct = df.agg(*[all_exprs[c][1] for c in cols])
    return basic.crossJoin(distinct).crossJoin(median)


def _empty_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    schema = T.StructType(
        [T.StructField("agg_type", T.StringType(), False)]
        + [T.StructField(c, T.DoubleType(), True) for c in cols]
    )
    return df.sparkSession.createDataFrame([], schema)


def profile(
    df: DataFrame,
    median_mode: MedianMode = "approx",
    oracle_safe: bool = False,
    distinct_mode: DistinctMode = "exact",
) -> DataFrame:
    """Wide profile: one row per statistic, one column per numeric column.

    Output schema: ``agg_type string, <col1> double, ... <colN> double``,
    8 rows ordered by ``agg_type`` (the reference's ``order by agg_type``,
    aws-athena.sh:120 — applied here as the final plan node so the order is
    actually guaranteed, which a subquery ORDER BY is not).

    Plan shape: three specialized single-row aggs (plain codegen stats /
    COUNT DISTINCT / median buffers — see _agg_row) crossJoined, then a
    stack projection and a sort of 8 rows. Three column-pruned passes, each
    fully partial-aggregated (approx mode) regardless of N columns.
    ``distinct_mode="approx"`` replaces the exact-distinct pass with an
    in-scan HLL++ sketch → two passes total (see _agg_row).
    """
    cols = numeric_columns(df)
    if "agg_type" in cols:
        raise ValueError(
            "profile: a numeric column named 'agg_type' collides with the "
            "profile's label column — rename it before profiling"
        )
    if not cols:
        return _empty_profile(df, cols)

    agg_row = _agg_row(df, cols, median_mode, oracle_safe, distinct_mode)

    # stack(8, label_i, <col1>__i, ..., <colN>__i, ...) → 8 rows × (1+N) cols.
    stack_args: list[Column] = []
    for i, label in enumerate(AGG_LABELS):
        stack_args.append(F.lit(label))
        stack_args.extend(_qcol(f"{c}__{i}") for c in cols)
    stacked = agg_row.select(
        F.stack(F.lit(len(AGG_LABELS)), *stack_args).alias("agg_type", *cols)
    )
    return stacked.orderBy("agg_type")


def profile_long(df: DataFrame, median_mode: MedianMode = "approx", oracle_safe: bool = False) -> DataFrame:
    """Long profile: (column_name, agg_type, result) — the reference's
    intermediate shape before its map_agg pivot (aws-athena.sh:73-110).

    Same single-scan agg; the melt is a projection of the 1-row agg result.
    """
    cols = numeric_columns(df)
    if not cols:
        schema = T.StructType(
            [
                T.StructField("column_name", T.StringType(), False),
                T.StructField("agg_type", T.StringType(), False),
                T.StructField("result", T.DoubleType(), True),
            ]
        )
        return df.sparkSession.createDataFrame([], schema)

    agg_row = _agg_row(df, cols, median_mode, oracle_safe)
    stack_args: list[Column] = []
    for c in cols:
        for i, label in enumerate(AGG_LABELS):
            stack_args.extend([F.lit(c), F.lit(label), _qcol(f"{c}__{i}")])
        # rows are (column_name, agg_type, result)
    stacked = agg_row.select(
        F.stack(F.lit(len(cols) * len(AGG_LABELS)), *stack_args).alias(
            "column_name", "agg_type", "result"
        )
    )
    return stacked.orderBy("column_name", "agg_type")


def profile_diff(
    base: DataFrame, target: DataFrame, median_mode: MedianMode = "approx",
    oracle_safe: bool = False,
) -> DataFrame:
    """Structured diff of two table profiles — the reference's ``vimdiff``
    (aws-athena.sh:161-198) with a DataFrame comparator instead of a human.

    Output: ``agg_type`` + for each numeric column present in either table:
    ``<col>_base``, ``<col>_target``, ``<col>_equal`` (null-safe equality;
    a column missing from one side compares unequal unless both null).

    Plan shape: two single-scan profiles (8 rows each) full-outer-joined on
    agg_type — the join input is 8 rows per side, so the comparator cost is
    nil next to the scans; at scale this is 2 passes total, same as profiling
    each table once.
    """
    p_base = profile(base, median_mode, oracle_safe)
    p_target = profile(target, median_mode, oracle_safe)
    base_cols = set(p_base.columns) - {"agg_type"}
    target_cols = set(p_target.columns) - {"agg_type"}
    all_cols = sorted(base_cols | target_cols)

    b = p_base.alias("b")
    t = p_target.alias("t")
    joined = b.join(t, on=F.col("b.agg_type") == F.col("t.agg_type"), how="full_outer")

    out: list[Column] = [
        F.coalesce(F.col("b.agg_type"), F.col("t.agg_type")).alias("agg_type")
    ]
    for c in all_cols:
        qc = "`" + c.replace("`", "``") + "`"  # literal name (dots legal)
        bcol = F.col(f"b.{qc}") if c in base_cols else F.lit(None).cast("double")
        tcol = F.col(f"t.{qc}") if c in target_cols else F.lit(None).cast("double")
        out.append(bcol.alias(f"{c}_base"))
        out.append(tcol.alias(f"{c}_target"))
        out.append(bcol.eqNullSafe(tcol).alias(f"{c}_equal"))
    return joined.select(*out).orderBy("agg_type")


#: String-profile statistic labels — same numbered-label convention as
#: AGG_LABELS (aws-athena.sh:81-100); the reference profiles numerics only
#: (:68 regex), so this is the SURVEY §1.2 flagged extension, not parity.
STRING_AGG_LABELS = [
    "1. count",
    "2. count_distinct",
    "3. avg_len",
    "4. min_len",
    "5. max_len",
    "6. empty",
]


def string_columns(df: DataFrame) -> list[str]:
    """Schema-only selection of string columns (the profiler's non-numeric
    complement — SURVEY §1.2 optional extension)."""
    return [f.name for f in df.schema.fields if isinstance(f.dataType, T.StringType)]


def profile_strings(df: DataFrame) -> DataFrame:
    """Wide string profile: one row per statistic, one column per string
    column — count/distinct/length stats/empty-count, all doubles.

    Same execution discipline as the numeric profiler: ONE plain codegen
    agg (count + length stats + empty) and ONE distinct agg, each a single
    fully-partial-aggregated scan pass, crossJoined (1-row joins are
    free), stacked, sorted by label.
    """
    cols = string_columns(df)
    if "agg_type" in cols:
        raise ValueError(
            "profile_strings: a string column named 'agg_type' collides with "
            "the profile's label column — rename it before profiling "
            "(r10 review: profile() already guarded, these did not)"
        )
    if not cols:
        return _empty_profile(df, cols)

    def basic_exprs(c: str) -> list[Column]:
        q = _qcol(c)
        ln = F.length(q)
        return [
            F.count(q).cast("double").alias(f"{c}__0"),
            F.round(F.avg(ln.cast("decimal(38,10)")).cast("double"), 5).alias(f"{c}__2"),
            F.min(ln).cast("double").alias(f"{c}__3"),
            F.max(ln).cast("double").alias(f"{c}__4"),
            F.count(F.when(q == "", 1)).cast("double").alias(f"{c}__5"),
        ]

    basic = df.agg(*[e for c in cols for e in basic_exprs(c)])
    distinct = df.agg(
        *[F.count_distinct(_qcol(c)).cast("double").alias(f"{c}__1") for c in cols]
    )
    row = basic.crossJoin(distinct)

    stack_args: list[Column] = []
    for i, label in enumerate(STRING_AGG_LABELS):
        stack_args.append(F.lit(label))
        stack_args.extend(_qcol(f"{c}__{i}") for c in cols)
    return row.select(
        F.stack(F.lit(len(STRING_AGG_LABELS)), *stack_args).alias("agg_type", *cols)
    ).orderBy("agg_type")


#: Temporal-profile labels (same numbered convention; §1.2 extension).
TEMPORAL_AGG_LABELS = [
    "1. count",
    "2. count_distinct",
    "3. min_epoch_s",
    "4. max_epoch_s",
    "5. span_days",
]


def temporal_columns(df: DataFrame) -> list[str]:
    """Schema-only selection of date/timestamp columns."""
    return [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.DateType, T.TimestampType, T.TimestampNTZType))
    ]


def profile_temporal(df: DataFrame) -> DataFrame:
    """Wide temporal profile: count/distinct/min/max (as epoch seconds) and
    span in days per date/timestamp column — completes the profiler family
    (numeric = reference parity, string + temporal = SURVEY §1.2 flagged
    extensions). Same split-agg single-scan discipline.
    """
    cols = temporal_columns(df)
    if "agg_type" in cols:
        raise ValueError(
            "profile_temporal: a temporal column named 'agg_type' collides with "
            "the profile's label column — rename it before profiling "
            "(r10 review: profile() already guarded, these did not)"
        )
    if not cols:
        return _empty_profile(df, cols)

    def epoch(c: str) -> Column:
        return F.unix_timestamp(_qcol(c).cast("timestamp")).cast("double")

    basic = df.agg(
        *[
            e
            for c in cols
            for e in (
                F.count(_qcol(c)).cast("double").alias(f"{c}__0"),
                F.min(epoch(c)).alias(f"{c}__2"),
                F.max(epoch(c)).alias(f"{c}__3"),
                F.round(
                    (F.max(epoch(c)) - F.min(epoch(c))) / F.lit(86400.0), 5
                ).alias(f"{c}__4"),
            )
        ]
    )
    distinct = df.agg(
        *[F.count_distinct(_qcol(c)).cast("double").alias(f"{c}__1") for c in cols]
    )
    row = basic.crossJoin(distinct)

    stack_args: list[Column] = []
    for i, label in enumerate(TEMPORAL_AGG_LABELS):
        stack_args.append(F.lit(label))
        stack_args.extend(_qcol(f"{c}__{i}") for c in cols)
    return row.select(
        F.stack(F.lit(len(TEMPORAL_AGG_LABELS)), *stack_args).alias("agg_type", *cols)
    ).orderBy("agg_type")
