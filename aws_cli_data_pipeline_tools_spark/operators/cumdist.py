"""Scale-safe exact cumulative distributions (two-phase binned cumsum).

A global ``sum(...) OVER (ORDER BY x)`` forces every row through ONE
window partition — fine when the domain is pre-aggregated and small, a
single-task straggler when the ordered domain itself is large (15M+
customers at 100×, a wide price domain, ...). This operator computes the
same exact rank + running sum with no unpartitioned window over an
unbounded-cardinality input:

1. **bin** rows by value range of the order column (monotone bucket id,
   B buckets, bounds from a 1-row broadcast agg — ties share a bucket so
   ordering correctness is preserved);
2. **local** rank + decimal running sum per ``(partition, bucket)`` —
   the only window over data-sized input, and it is bucket-partitioned;
3. **prefix** per-bucket totals (≤B rows per partition) get their own
   running sum — a window over a *bounded* domain — and broadcast back;
4. ``rank = local_rank + preceding_buckets_count`` and
   ``cum = local_cum + preceding_buckets_sum`` (decimal addition is
   exact, so the split sum is bit-equal to the single-pass sum).

Reference parity: this backs the Pareto/weighted-median catalog entries
whose semantics the reference expresses as plain SQL windows delegated
to Athena (aws-athena.sh:27); here the formulation itself must scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DEC = "decimal(38,10)"


def _nsafe_join(left: DataFrame, right: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Broadcast inner join on ``keys`` with NULL-SAFE equality. A plain
    column-list join uses EqualTo, so rows whose partition value is NULL
    would silently vanish between the bounds/edges/prefix frames and the
    data — while SQL window semantics treat NULL as a legal partition of
    its own (the order column gets a loud raise_error guard; the part
    columns must not get a SILENT drop). Right-side keys are renamed to
    ``_gj_<key>`` (reserved-name-checked by the caller) for the condition
    and dropped after; EqualNullSafe keys still hash-join."""
    renamed = right.withColumnsRenamed({k: f"_gj_{k}" for k in keys})
    cond = None
    for k in keys:
        e = F.col(k).eqNullSafe(F.col(f"_gj_{k}"))
        cond = e if cond is None else cond & e
    return left.join(F.broadcast(renamed), cond).drop(
        *[f"_gj_{k}" for k in keys]
    )


def order_domain_skew(
    df: DataFrame, order_col: str, part_cols: Sequence[str] = ()
) -> float:
    """Cheap heavy-tail probe for ``bucket_mode`` selection: the ratio
    ``r = (max − min) / (p75 − p25)`` of the order column — how many
    IQR-widths the full range spans. Range-mode buckets are fixed-width
    slices of (max − min), so the middle HALF of all rows lands in
    ``n_buckets / r`` of them: a near-uniform domain reads r ≈ 2, a
    normal-ish domain r ≈ 3–7 (grows slowly with n), and a heavy tail
    (power-law revenue, token counts) reads r in the tens to thousands —
    the regime where range binning collapses into a straggler bucket.

    One aggregate over the (usually pre-aggregated) domain; with
    ``part_cols`` the ratio is computed per partition and the MAX is
    returned, still via a single 1-row collect (never a per-partition
    driver loop). Degenerate cases: max == min → 1.0 (any binning is
    trivially balanced); IQR == 0 with a nonzero range → ``inf`` (a
    massive tie mass — that mass occupies adjacent ranks in ANY exact
    formulation, and quantile mode is the no-worse choice).
    """
    x = F.col(order_col).cast("double")
    aggs = [
        F.min(x).alias("_lo"),
        F.max(x).alias("_hi"),
        F.percentile_approx(
            x, F.array(F.lit(0.25), F.lit(0.75)), F.lit(10_000)
        ).alias("_q"),
    ]
    parts = list(part_cols)
    per = df.groupBy(*parts).agg(*aggs) if parts else df.agg(*aggs)
    span = F.col("_hi") - F.col("_lo")
    iqr = F.element_at("_q", 2) - F.element_at("_q", 1)
    ratio = (
        F.when(span <= F.lit(0.0), F.lit(1.0))
        .when(iqr <= F.lit(0.0), F.lit(float("inf")))
        .otherwise(span / iqr)
    )
    row = per.select(ratio.alias("r")).agg(F.max("r").alias("r")).first()
    return float(row["r"]) if row and row["r"] is not None else 1.0


#: ``bucket_mode="auto"`` rule: quantile when the skew ratio exceeds
#: ``n_buckets / AUTO_SKEW_DIVISOR`` (default 256/32 = 8) — i.e. when
#: the middle half of all rows would fill fewer than 32 of the 256
#: range-mode buckets, a ≥4x occupancy imbalance vs balanced binning.
#: Measured crossover (BASELINE.md r6): range mode collapses
#: (7.77 s vs quantile 2.88 s at a 6M power-law domain, r in the
#: thousands) while TPC-H's near-normal domains (r ≈ 3–7 at sf0.1,
#: BASELINE.md r7) stay comfortably in range mode, which costs one
#: less pass.
AUTO_SKEW_DIVISOR = 32


def binned_cumsum(
    df: DataFrame,
    order_col: str,
    value_col: str | Column,
    part_cols: Sequence[str] = (),
    descending: bool = False,
    tiebreak_cols: Sequence[str] = (),
    n_buckets: int = 256,
    rank_col: str = "rn",
    cum_col: str = "cum_d",
    extra_values: dict[str, Column] | None = None,
    bucket_mode: str = "range",
) -> DataFrame:
    """Exact rank + decimal running sum of ``value_col`` in
    ``order_col`` order (then ``tiebreak_cols``), optionally per
    ``part_cols`` partition, without an unpartitioned window over the
    input.

    ``order_col`` must be numeric and non-null (bucket bounds come from
    its min/max). ``value_col`` (and every ``extra_values`` expression)
    must also be non-null: a NULL value poisons its bucket's local
    running sum (``NULL + prefix = NULL``) where a single-pass window
    would have skipped it — both preconditions are ENFORCED with an
    in-plan ``raise_error`` (never a silent wrong answer); coalesce to 0
    first if NULLs can occur (catalog callers all pass non-null
    aggregates). ``value_col`` is cast to decimal(38,10) before
    summing, so ``cum_col`` is deterministic and engine-portable; the
    output carries all input columns plus ``rank_col`` (long, 1-based in
    the global order) and ``cum_col`` (decimal(38,10) inclusive running
    sum). ``extra_values`` maps additional output column names to value
    expressions that get their own running sum over the SAME ordering in
    the same pass (e.g. the two-sample KS statistic's parallel f1/f2
    CDFs). Cost: one extra tiny agg + one broadcast join versus the
    naive window; the data-sized window is partitioned ``B`` ways.

    Exactness contract: ``cum_col`` is BIT-EQUAL to the single-pass
    ``sum(value.cast(decimal(38,10))) OVER (...)`` for cumulative
    magnitudes below 10^18 (the local+prefix addition is performed at
    decimal(28,10) so decimal Add never trips Spark's precision-loss
    scale reduction — verified by exceptAll parity at every measured
    size, 15k through 6M domain rows, BASELINE.md r6).

    Cost model (measured, BASELINE.md r6): the naive single-task window
    is ~4× FASTER below ~300k domain rows (one in-memory sort beats two
    extra shuffles); binned wins 0.54× at 1.5M and 0.19× at 6M and flat
    beyond — use it when the ordered domain is dimension-scale or
    unbounded, which is why the catalog's Pareto/median/ntile/Gini/KS
    entries are on it.

    ``bucket_mode``: ``"range"`` (default) bins by fixed-width value
    ranges — zero extra passes, but a heavy-tailed domain (revenue,
    power-law counts) collapses most rows into few buckets and
    re-creates the straggler. ``"quantile"`` spends one
    ``percentile_approx`` pass on data-value edges (still broadcast,
    still no driver collect) so bucket populations stay balanced under
    ANY value distribution; rows tied on the order column still share a
    bucket (edges are data values, assignment is a monotone
    count-of-edges-≤-x), so ordering exactness is unchanged. Only
    massive tie mass (one value holding a large corpus fraction) can
    still concentrate a bucket — that mass would occupy adjacent ranks
    in ANY exact formulation. Measured on a power-law domain
    (BASELINE.md r6). ``"auto"`` spends one cheap probe
    (:func:`order_domain_skew` — min/max/IQR of the order column, a
    1-row collect) and picks quantile iff the skew ratio exceeds
    ``n_buckets / AUTO_SKEW_DIVISOR`` — the documented rule for catalog
    entries whose production value distribution is not known a priori.
    """
    if bucket_mode not in ("range", "quantile", "auto"):
        raise ValueError(f"unknown bucket_mode: {bucket_mode!r}")
    parts = list(part_cols)
    # internal helper names + output names must not collide with input
    # columns: withColumn would silently overwrite a user column and the
    # final select(*df.columns) would emit internal bucket state as data.
    # Validation runs BEFORE auto-mode's persist so a raise never leaves
    # a dangling cache (ADVICE r7).
    reserved = {
        "_bkt", "_lrn", "_edges", "_lo", "_hi", "_bn", "_pcnt", "_bs",
        rank_col, cum_col, *(extra_values or {}),
    }
    # null-safe join key renames (_nsafe_join): one per part column +
    # the bucket key of the prefix join
    reserved.update(f"_gj_{c}" for c in parts)
    reserved.add("_gj__bkt")
    # the quantile jump search emits one _bs{i} column per halving step
    # (~log2(n_buckets) of them) — size the reserved set to match
    reserved.update(f"_bs{i}" for i in range(2 + n_buckets.bit_length()))
    n_sums = 1 + len(extra_values or {})
    reserved.update(f"_bsum{i}" for i in range(n_sums))
    reserved.update(f"_psum{i}" for i in range(n_sums))
    reserved.update(f"_lcum{i}" for i in range(n_sums))
    clash = reserved.intersection(df.columns)
    if clash:
        raise ValueError(
            f"binned_cumsum: input columns {sorted(clash)} collide with "
            "reserved internal/output names — rename them or pick "
            "different rank_col/cum_col/extra_values keys"
        )

    release = None
    if bucket_mode == "auto":
        from pyspark import StorageLevel

        # the probe is a separate ACTION, so without a persist it would
        # re-derive the whole domain lineage (fact scan + agg shuffle)
        # that the caller computed df from — measured +30% on the
        # weighted-median shape at sf0.1. Persisting the domain turns
        # the probe into a cache read AND lets the operator's own 2-3
        # references to df (bounds/edges agg, local window, output join)
        # reuse the materialization. The domain is pre-aggregated
        # (dimension-scale), so the cache is bounded; callers can drop
        # it via the returned DataFrame's release_cache() (same contract
        # as dedup.shared_span_pairs), else the ContextCleaner reclaims
        # it when the plan is GC'd (relying on ContextCleaner is part of
        # auto-mode's contract because downstream .select() projections
        # do not carry the release_cache attribute).
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        release = df.unpersist
        try:
            r = order_domain_skew(df, order_col, part_cols)
        except Exception:
            # a failed probe action must not leak the persist (ADVICE r7)
            df.unpersist()
            raise
        bucket_mode = (
            "quantile" if r > n_buckets / AUTO_SKEW_DIVISOR else "range"
        )
    # NULL value expressions would otherwise poison bucket-local running
    # sums where a single-pass window sum silently skips them — enforce
    # the documented non-null precondition loudly (VERDICT r7 task 4),
    # same pattern as the order-column guard below. Guarding AFTER the
    # decimal cast also catches values the cast cannot represent.
    def _guarded(out_name: str, expr: str | Column) -> Column:
        raw = F.col(expr) if isinstance(expr, str) else expr
        # try_cast, not cast: under the session's pinned ANSI mode a plain
        # cast THROWS its generic error on NaN/inf/overflow before the
        # when() below can name the case — the curated second branch was
        # unreachable (r8 review); try_cast yields NULL and routes there
        vc = raw.try_cast(DEC)
        # two distinct failures share the NULL-after-cast symptom and
        # need OPPOSITE advice: a genuinely-NULL input should be
        # coalesced to 0, but a non-NULL value the decimal(38,10) cast
        # can't represent (NaN/inf/|x|>=1e28) must NOT be zeroed — that
        # would silently corrupt the running sum. Name each case.
        return F.when(
            vc.isNull() & raw.isNull(),
            F.raise_error(
                F.lit(
                    f"binned_cumsum: NULL value for output {out_name!r} — "
                    "coalesce the value expression to 0 first (a NULL "
                    "would poison its bucket's running sum)"
                )
            ).cast(DEC),
        ).when(
            vc.isNull(),
            F.raise_error(
                F.lit(
                    f"binned_cumsum: value for output {out_name!r} is not "
                    "representable as decimal(38,10) (NaN/inf/overflow) — "
                    "fix or filter the offending rows; do NOT coalesce "
                    "them to 0"
                )
            ).cast(DEC),
        ).otherwise(vc)

    sums: dict[str, Column] = {cum_col: _guarded(cum_col, value_col)}
    for out_name, expr in (extra_values or {}).items():
        sums[out_name] = _guarded(out_name, expr)
    # NULL order values would otherwise drop rows SILENTLY (a null
    # bucket never matches the prefix join) — fail loudly instead; the
    # guard lives inside the used bucket expression so Catalyst cannot
    # prune it
    x_raw = F.col(order_col).cast("double")
    x = F.when(
        x_raw.isNull(),
        F.raise_error(
            F.lit(
                f"binned_cumsum: NULL in order column {order_col!r} — "
                "filter or fill nulls first (nulls have no rank here)"
            )
        ).cast("double"),
    ).otherwise(x_raw)

    if bucket_mode == "quantile":
        # data-value bucket edges: one approx-percentile agg (model-sized
        # result, broadcast — never a driver collect), then bucket =
        # monotone count of edges <= x (codegen lambda, O(B) per row).
        # Edge arrays are actual data values, so ties share a bucket.
        probs = [i / n_buckets for i in range(1, n_buckets)]
        edges = F.percentile_approx(
            x, F.array(*[F.lit(p) for p in probs]), F.lit(10_000)
        ).alias("_edges")
        if parts:
            eb = df.groupBy(*parts).agg(edges)
            b = _nsafe_join(df, eb, parts)
        else:
            eb = df.agg(edges)
            b = df.crossJoin(F.broadcast(eb))
        # count of edges <= x == largest index i with edges[i] <= x
        # (edges sorted ascending) — binary JUMP search, log2(B) steps of
        # one element_at + compare each, materialized as successive
        # columns so the expression tree stays linear (a nested-when
        # formulation triples per step → 3^8 nodes; a linear F.aggregate
        # scan costs O(B) per row — measured 1.5x slower than the naive
        # window at 6M rows before this rewrite)
        m = len(probs)
        step = 1
        while step * 2 <= m:
            step *= 2
        cur = "_bs"
        b = b.withColumn(cur, F.lit(0))
        i = 0
        while step >= 1:
            nxt = f"_bs{i}"
            cand = (F.col(cur) + F.lit(step)).cast("int")
            b = b.withColumn(
                nxt,
                F.when(
                    (cand <= F.lit(m))
                    & (F.element_at("_edges", cand) <= x),
                    cand,
                ).otherwise(F.col(cur)),
            )
            b = b.drop(cur)
            cur = nxt
            i += 1
            step //= 2
        n_le = F.col(cur)
        # descending order walks buckets high→low, so flip the id to
        # keep bucket order aligned with the sort order
        bkt = (
            (F.lit(n_buckets - 1) - n_le) if descending else n_le
        ).cast("int").alias("_bkt")
        b = b.withColumn("_bkt", bkt).drop("_edges", cur)
    else:
        if parts:
            bounds = df.groupBy(*parts).agg(
                F.min(x).alias("_lo"), F.max(x).alias("_hi")
            )
            b = _nsafe_join(df, bounds, parts)
        else:
            bounds = df.agg(F.min(x).alias("_lo"), F.max(x).alias("_hi"))
            b = df.crossJoin(F.broadcast(bounds))

        span = F.col("_hi") - F.col("_lo")
        pos = (F.col("_hi") - x) if descending else (x - F.col("_lo"))
        bkt = (
            F.when(span <= F.lit(0.0), F.lit(0))
            .otherwise(
                F.least(
                    F.lit(n_buckets - 1),
                    F.floor(pos / span * n_buckets).cast("int"),
                )
            )
            .alias("_bkt")
        )
        b = b.withColumn("_bkt", bkt).drop("_lo", "_hi")

    order = [F.desc(order_col) if descending else F.asc(order_col)]
    order += [F.asc(c) for c in tiebreak_cols]
    w_loc = (
        Window.partitionBy(*parts, "_bkt")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    loc = b.withColumn("_lrn", F.row_number().over(w_loc))
    for i, v in enumerate(sums.values()):
        loc = loc.withColumn(f"_lcum{i}", F.sum(v.cast(DEC)).over(w_loc))

    # per-bucket totals: <= n_buckets rows per partition, so the prefix
    # window below runs over a BOUNDED domain by construction
    bs = loc.groupBy(*parts, "_bkt").agg(
        F.count(F.lit(1)).alias("_bn"),
        *[
            F.sum(v.cast(DEC)).alias(f"_bsum{i}")
            for i, v in enumerate(sums.values())
        ],
    )
    w_pref = (
        Window.partitionBy(*parts)
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pref = bs.select(
        *parts,
        "_bkt",
        F.coalesce(F.sum("_bn").over(w_pref), F.lit(0)).alias("_pcnt"),
        *[
            F.coalesce(
                F.sum(f"_bsum{i}").over(w_pref), F.lit(0).cast(DEC)
            ).alias(f"_psum{i}")
            for i in range(len(sums))
        ],
    )

    # Adding two decimal(38,10)s would overflow precision 38 and trigger
    # Spark's precision-loss rule (result decimal(38,9) — the 10th
    # decimal digit silently HALF_UP-rounded away, breaking bit-equality
    # with a single-pass decimal window sum). Downcast both addends to
    # decimal(28,10) first: the Add result is decimal(29,10) — exact —
    # and the downcast itself is lossless for |cum| < 10^18.
    add_t = "decimal(28,10)"
    out = _nsafe_join(loc, pref, [*parts, "_bkt"]).select(
        *df.columns,
        (F.col("_lrn") + F.col("_pcnt")).alias(rank_col),
        *[
            (
                F.col(f"_lcum{i}").cast(add_t)
                + F.col(f"_psum{i}").cast(add_t)
            )
            .cast(DEC)
            .alias(name)
            for i, name in enumerate(sums)
        ],
    )
    if release is not None:
        # auto mode persisted the input domain — callers can unpersist
        # after their action
        out.release_cache = release
    return out
