"""Batch-equivalent streaming queries over ``events`` + the as-of join.

The reference is batch-only (SURVEY.md §2.B streaming row: none); these are
north-star extensions. Each query here is the *batch twin* of a Structured
Streaming pipeline in ``streaming/`` — same expressions, bounded input — so
the DuckDB oracle can check windows/sessionization semantics that a live
stream can't be oracled on (SURVEY.md §5.2, §7 step 7).

Timestamp discipline: events.ts is nanosecond parquet; Spark floors to
microseconds at load (sources.load_table), so every DuckDB twin uses
``CAST(ts AS TIMESTAMP)`` (ns→us floor) before comparing or bucketing.
Gap arithmetic uses integer epoch microseconds on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.asof import asof_join
from ..sources import load_table
from . import register, register_sql
from .fragments import dsum

register_sql(
    "events_tumbling_hourly",
    spark_sql=f"""
SELECT window(ts, '1 hour').start AS win_start,
       event_type,
       count(*) AS n_events,
       {dsum('value')} AS sum_value
FROM events
GROUP BY window(ts, '1 hour'), event_type
ORDER BY win_start, event_type
""",
    duck_sql=f"""
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS win_start,
       event_type,
       count(*) AS n_events,
       {dsum('value')} AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY win_start, event_type
""",
    tags=("streaming", "window"),
    notes="Tumbling 1 h window — batch twin of streaming/windows.py "
    "tumbling_counts (epoch-aligned, = date_trunc hour).",
)

register_sql(
    "events_sliding_1h_30m",
    spark_sql=f"""
SELECT window(ts, '1 hour', '30 minutes').start AS win_start,
       count(*) AS n_events,
       {dsum('value')} AS sum_value
FROM events
GROUP BY window(ts, '1 hour', '30 minutes')
ORDER BY win_start
""",
    duck_sql=f"""
WITH e AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts, value,
         -- make_timestamp(us) is timezone-FREE; the old
         -- to_timestamp(epoch) round-trip produced a TIMESTAMPTZ whose
         -- naive cast renders in the DuckDB session TimeZone (r10
         -- review - false-red on any harness that does not pin TZ)
         make_timestamp((epoch_us(CAST(ts AS TIMESTAMP))
              // 1800000000) * 1800000000) AS t30
  FROM events
), expanded AS (
  SELECT unnest([t30, t30 - INTERVAL 30 MINUTE]) AS win_start, value FROM e
)
SELECT win_start, count(*) AS n_events, {dsum('value')} AS sum_value
FROM expanded GROUP BY 1 ORDER BY win_start
""",
    tags=("streaming", "window"),
    notes="Sliding 1 h / 30 min window: each event belongs to exactly 2 "
    "epoch-aligned windows; DuckDB twin expands membership explicitly.",
)

register_sql(
    "events_sessionized",
    spark_sql=f"""
WITH marked AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN unix_micros(ts) - lag(unix_micros(ts)) OVER w > 1800000000
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT *, sum(new_session) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM marked
)
SELECT user_id, session_id,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events, {dsum('value')} AS sum_value
FROM numbered
GROUP BY user_id, session_id
ORDER BY user_id, session_id
""",
    duck_sql=f"""
WITH base AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
), marked AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT *, sum(new_session) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM marked
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       min(ts) AS session_start, max(ts) AS session_end,
       count(*) AS n_events, {dsum('value')} AS sum_value
FROM numbered
GROUP BY user_id, session_id
ORDER BY user_id, session_id
""",
    tags=("streaming", "session"),
    notes="30-min-gap sessionization (lag + cumulative flag sum) — batch twin "
    "of the streaming session_window aggregation.",
)

register_sql(
    "events_dedup_first",
    spark_sql="""
SELECT user_id, event_type, event_id, ts, value FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
ORDER BY user_id, event_type
""",
    duck_sql="""
SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
  FROM events
) WHERE rn = 1
ORDER BY user_id, event_type
""",
    tags=("streaming", "dedup"),
    notes="Keyed keep-first dedup — batch twin of "
    "dropDuplicatesWithinWatermark on (user_id, event_type).",
)


@register(
    "streaming_tumbling_live",
    oracle=f"""
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS win_start,
       event_type,
       count(*) AS n_events,
       {dsum('value')} AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY win_start, event_type
""",
    tags=("streaming", "live"),
    notes="REAL Structured Streaming run: readStream(events) → watermark → "
    "tumbling window agg → availableNow drain to memory sink; on a bounded "
    "replay the complete-mode result equals the batch/DuckDB answer — the "
    "streaming correctness argument from SURVEY.md §5.",
)
def streaming_tumbling_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import streaming as st

    # decimal cast BEFORE the streaming sum (order-independent exactness —
    # rounding an already order-dependent double sum would not fix it)
    stream = st.events_file_stream(spark, sf_dir).withColumn(
        "value", F.col("value").cast("decimal(38,10)")
    )
    agg = st.tumbling_counts(stream).withColumn(
        "sum_value", F.round(F.col("sum_value").cast("double"), 5)
    )
    return st.drain(agg, "complete").orderBy("win_start", "event_type")


@register(
    "stateful_user_totals_live",
    oracle="""
SELECT user_id,
       count(*) AS n_events,
       round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 2) AS sum_value
FROM events
GROUP BY user_id
ORDER BY user_id
""",
    tags=("streaming", "stateful", "live"),
    notes="REAL applyInPandasWithState run (streaming/stateful.py): per-user "
    "running totals with event-time idle eviction, drained via availableNow; "
    "the max-n update row per key equals the batch group-by. Values are "
    "summed as integer cents (events.value is 2-decimal) so the Python-side "
    "accumulation is exactly associative and matches DuckDB bit-for-bit.",
)
def stateful_user_totals_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import streaming as st
    from ..streaming.stateful import running_user_totals

    stream = st.events_file_stream(spark, sf_dir).withColumn(
        "value", F.round(F.col("value") * 100).cast("bigint")
    )
    out = running_user_totals(stream)
    return (
        st.drain(out, "update")
        .filter(~F.col("closed"))
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("sum_value", "n_events").alias("cents"),
        )
        .select(
            "user_id",
            "n_events",
            F.round(F.col("cents") / 100.0, 2).alias("sum_value"),
        )
        .orderBy("user_id")
    )


def _duck_minhash_closure_sql() -> str:
    """DuckDB twin of dedup_cluster_groups (r13 graduation): the
    hash-for-hash MinHash+LSH pair replay that made dedup_minhash_lsh
    exact (llmops._duck_minhash_sig_cte / _duck_band_cte, md5-derived
    hashes, rounded exact-Jaccard filter at 0.5), composed with the
    recursive-CTE transitive closure that made dedup_cluster_groups_exact
    exact. Both halves are single-sourced from the entries that proved
    them, so the replay can never drift."""
    from .llmops import _duck_band_cte, _duck_minhash_sig_cte

    return f"""
WITH RECURSIVE {_duck_minhash_sig_cte(64, 1)}, {_duck_band_cte(64, 32)},
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (bk)
  WHERE a.doc_id < b.doc_id
), p AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.id_a
  JOIN sig sb ON sb.doc_id = c.id_b
  WHERE round(len(list_intersect(sa.hsh, sb.hsh))
        / CAST(len(list_distinct(list_concat(sa.hsh, sb.hsh))) AS DOUBLE),
        6) >= 0.5
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM p
  UNION
  SELECT id_b, id_a FROM p
), reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS id, least(src, min(dst)) AS group_id
FROM reach GROUP BY src ORDER BY id
"""


@register(
    "dedup_cluster_groups",
    oracle=_duck_minhash_closure_sql(),
    tags=("streaming", "dedup"),
    notes="Connected components (label propagation) over MinHash near-dup "
    "pairs → (doc, group keeper) assignments. Graduated to a FULL DuckDB "
    "oracle (r13): the md5-derived shingle hashes make the MinHash+LSH "
    "pair graph hash-replayable (the dedup_minhash_lsh construction) and the "
    "closure replays via the dedup_cluster_groups_exact recursive CTE — "
    "so bucket assignment, the verified pair set, AND the distributed "
    "pointer-jumping fixpoint all hash-match. The retired invariant's "
    "quality claim (LSH closure ≡ exact-Jaccard closure) moved to pytest "
    "(test_cluster_groups_lsh_matches_exact).",
)
def dedup_cluster_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as dd

    docs = load_table(spark, "documents", sf_dir)
    pairs = dd.minhash_lsh_pairs(
        docs, k=3, num_perm=64, bands=32, threshold=0.5
    )
    return dd.dedup_clusters(pairs)


@register(
    "asof_join_purchase_click",
    oracle="""
WITH l AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'purchase'
), r AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(value) AS click_value
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, CAST(ts AS TIMESTAMP)
)
SELECT l.event_id, l.user_id, l.ts, r.click_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.ts <= l.ts
ORDER BY l.event_id
""",
    tags=("streaming", "asof"),
    notes="Backward as-of join (operators/asof.py union+window idiom) vs "
    "DuckDB's native ASOF JOIN. Right side pre-aggregated to unique "
    "(user_id, ts) so tie choice is engine-independent.",
)
def asof_join_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    out = asof_join(left, right, on="ts", by="user_id", right_cols=["click_value"])
    return out.select(
        "event_id", "user_id", "ts", F.col("click_value_right").alias("click_value")
    ).orderBy("event_id")


@register(
    "range_join_error_clicks",
    oracle="""
SELECT e.user_id, e.event_id AS error_id, count(*) AS n_clicks
FROM events e
JOIN events c
  ON c.user_id = e.user_id
 AND e.event_type = 'error' AND c.event_type = 'click'
 AND c.ts >= e.ts AND c.ts < e.ts + INTERVAL 6 HOUR
GROUP BY e.user_id, e.event_id
ORDER BY e.user_id, error_id
""",
    tags=("join", "range"),
    notes="Big-big range join via the binned rewrite (operators/rangejoin.py):"
    " clicks landing in a 6-hour window after each error by the same "
    "user. Equi-join on (user_id, time bin) — no nested loop; the DuckDB "
    "oracle states the same predicate as a plain inequality join.",
)
def range_join_error_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rangejoin import point_in_interval_join

    ev = load_table(spark, "events", sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("err_start"),
        (F.col("ts") + F.expr("INTERVAL 6 HOURS")).alias("err_end"),
    )
    joined = point_in_interval_join(
        clicks,
        errors,
        point_col="click_ts",
        start_col="err_start",
        end_col="err_end",
        bin_width=3600,
        keys=("user_id",),
    )
    return (
        joined.groupBy("user_id", "error_id")
        .agg(F.count("*").alias("n_clicks"))
        .orderBy("user_id", "error_id")
    )


@register(
    "streaming_join_live",
    oracle="""
SELECT e.user_id, e.event_id AS error_id, count(*) AS n_clicks
FROM events e
JOIN events c
  ON c.user_id = e.user_id
 AND e.event_type = 'error' AND c.event_type = 'click'
 AND c.ts >= e.ts AND c.ts < e.ts + INTERVAL 6 HOUR
GROUP BY e.user_id, e.event_id
ORDER BY e.user_id, error_id
""",
    tags=("streaming", "join", "live"),
    notes="REAL stream-stream inner join (streaming/error_click_join_stream):"
    " watermarked error and click branches, time-bounded predicate so join "
    "state evicts at watermark + 6h; drained availableNow, then batch-"
    "aggregated to per-error click counts. Same oracle SQL as the batch "
    "binned rewrite (range_join_error_clicks) — live and batch paths are "
    "cross-checked against one answer.",
)
def streaming_join_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import streaming as st

    stream = st.events_file_stream(spark, sf_dir)
    joined = st.error_click_join_stream(stream, window="6 hours")
    return (
        st.drain(joined, "append")
        .groupBy("user_id", "error_id")
        .agg(F.count("*").alias("n_clicks"))
        .orderBy("user_id", "error_id")
    )


#: Shared CTE prefix of the three outer-join closure oracles: branch
#: split, the min-policy final watermark (NULL — no null-row emission —
#: when either branch saw no data, since Spark's min-policy global
#: watermark then stays at epoch 0 while DuckDB's least() would skip the
#: NULL), and the batch-exact inner match set.
_OJOIN_CTE = """
WITH errors AS (
  SELECT user_id, event_id AS error_id, CAST(ts AS TIMESTAMP) AS err_ts
  FROM events WHERE event_type = 'error'
), clicks AS (
  SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS click_ts
  FROM events WHERE event_type = 'click'
), wm AS (
  -- the branch-max is floored to whole MILLISECONDS before the delay
  -- subtraction: Spark's EventTimeStatsAccum tracks max event time in
  -- ms (us DIV 1000), so the live watermark sits up to 999 us BELOW
  -- the exact-us value — measured r10 (a click in that sub-ms gap
  -- holds state while the exact-us closure claimed it emits).
  -- make_timestamp(ms*1000) keeps the arithmetic timezone-free.
  SELECT CASE
           WHEN (SELECT max(err_ts) FROM errors) IS NULL
             OR (SELECT max(click_ts) FROM clicks) IS NULL THEN NULL
           ELSE make_timestamp(epoch_ms(
                  least((SELECT max(err_ts) FROM errors),
                        (SELECT max(click_ts) FROM clicks))) * 1000)
                - INTERVAL 12 HOUR
         END AS w
), matched AS (
  SELECT e.user_id, e.error_id, e.err_ts, c.click_id, c.click_ts
  FROM errors e JOIN clicks c
    ON c.user_id = e.user_id
   AND c.click_ts >= e.err_ts
   AND c.click_ts < e.err_ts + INTERVAL 6 HOUR
)
"""

#: Null-padded unmatched-ERROR rows whose join window provably closed
#: (leftOuter / fullOuter): err_ts + window <= wm, boundary inclusive
#: (live repro, r9).
_OJOIN_NULL_ERRORS = """
SELECT e.user_id, e.error_id, e.err_ts,
       NULL AS click_id, CAST(NULL AS TIMESTAMP) AS click_ts
FROM errors e
WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.error_id = e.error_id)
  AND e.err_ts + INTERVAL 6 HOUR <= (SELECT w FROM wm)
"""

#: Null-padded unmatched-CLICK rows (rightOuter / fullOuter): a future
#: error matching click c needs err_ts <= click_ts, so the click's
#: closure has NO + window term — it closes when the watermark passes
#: click_ts itself. Boundary STRICT (< wm), asymmetric with the error
#: closure's inclusive <=: measured on a synthetic micro-fixture with a
#: click exactly AT wm (holds state, no emission) and one strictly
#: below (null-emits) — r10; the sf0.001/sf0.01 fixtures cannot
#: distinguish the two (no click lands exactly on wm), the synthetic
#: pytest boundary test locks it.
_OJOIN_NULL_CLICKS = """
SELECT c.user_id, NULL AS error_id, CAST(NULL AS TIMESTAMP) AS err_ts,
       c.click_id, c.click_ts
FROM clicks c
WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.click_id = c.click_id)
  AND c.click_ts < (SELECT w FROM wm)
"""


@register(
    "streaming_join_outer_live",
    # shared closure pieces (r10 review: the inline copy of the CTE had
    # started drifting from the right/full twins the moment they landed)
    oracle=_OJOIN_CTE
    + """
SELECT user_id, error_id, err_ts, click_id, click_ts FROM matched
UNION ALL
"""
    + _OJOIN_NULL_ERRORS
    + "ORDER BY user_id, error_id, click_id",
    tags=("streaming", "join", "live"),
    notes="REAL stream-stream LEFT-OUTER interval join, oracle-EXACT under "
    "the deterministic replay (VERDICT r8 task 4): the single-file "
    "availableNow drain is one data micro-batch (every match found — the "
    "inner part is batch-exact) followed by one no-data batch at the final "
    "watermark wm = min(max err_ts, max click_ts) - 12h (two watermark "
    "nodes, default min policy), which evicts-and-null-emits exactly the "
    "unmatched errors whose join window provably closed: err_ts + 6h <= wm "
    "(boundary INCLUSIVE — a live repro with err_ts + 6h == wm to the "
    "microsecond null-emits, r9 review). The oracle replays that closure "
    "in SQL — matched rows UNION null rows for watermark-closed unmatched "
    "errors; wm is NULL (no null rows) if either branch saw no data, "
    "matching the min-policy watermark pinned at epoch 0. Errors inside "
    "the tail (err_ts + 6h > wm) hold state at end-of-replay and emit "
    "nothing, on both engines. Empirically confirmed at sf0.001 (169 "
    "null rows) and sf0.01 (1743): the emitted null set equals this "
    "formula exactly.",
)
def streaming_join_outer_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import streaming as st

    stream = st.events_file_stream(spark, sf_dir)
    joined = st.error_click_join_stream(
        stream, window="6 hours", watermark="12 hours", how="leftOuter"
    )
    return st.drain(joined, "append").orderBy("user_id", "error_id", "click_id")


@register(
    "streaming_join_right_live",
    oracle=_OJOIN_CTE
    + """
SELECT user_id, error_id, err_ts, click_id, click_ts FROM matched
UNION ALL
"""
    + _OJOIN_NULL_CLICKS
    + "ORDER BY user_id, click_id, error_id",
    tags=("streaming", "join", "live"),
    notes="REAL stream-stream RIGHT-OUTER interval join (VERDICT r9 task "
    "4): the mirror of streaming_join_outer_live. Under the deterministic "
    "availableNow replay the emitted set is matched rows plus null-error "
    "rows for clicks no error preceded whose closure provably passed: a "
    "future error matching click c needs err_ts <= click_ts, so the click "
    "closes when the watermark passes click_ts ITSELF (no + window term "
    "on this side, unlike the error closure's err_ts + 6h; boundary "
    "STRICT <, measured — a click exactly at wm holds state, asymmetric "
    "with the inclusive error closure). wm = floor_ms(min(max err_ts, "
    "max click_ts)) - 12h (ms-floored branch max, measured r10) via "
    "the min-policy pair of watermark nodes; NULL (no null rows) if "
    "either branch saw no data. user_id coalesces across sides in the "
    "stream (errors-side user_id alone is NULL on unmatched-click rows).",
)
def streaming_join_right_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import streaming as st

    stream = st.events_file_stream(spark, sf_dir)
    joined = st.error_click_join_stream(
        stream, window="6 hours", watermark="12 hours", how="rightOuter"
    )
    return st.drain(joined, "append").orderBy("user_id", "click_id", "error_id")


@register(
    "streaming_join_full_live",
    oracle=_OJOIN_CTE
    + """
SELECT user_id, error_id, err_ts, click_id, click_ts FROM matched
UNION ALL
"""
    + _OJOIN_NULL_ERRORS
    + "UNION ALL\n"
    + _OJOIN_NULL_CLICKS
    + "ORDER BY user_id, error_id, click_id",
    tags=("streaming", "join", "live"),
    notes="REAL stream-stream FULL-OUTER interval join (VERDICT r9 task "
    "4): both closure sets at once — null-padded unmatched errors once "
    "err_ts + 6h <= wm (the leftOuter closure) plus null-padded unmatched "
    "clicks once click_ts < wm strictly (the rightOuter closure), over the same "
    "batch-exact inner match set. The two sides share one state store "
    "and identical eviction windows; only the null-emission differs.",
)
def streaming_join_full_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import streaming as st

    stream = st.events_file_stream(spark, sf_dir)
    joined = st.error_click_join_stream(
        stream, window="6 hours", watermark="12 hours", how="fullOuter"
    )
    return st.drain(joined, "append").orderBy("user_id", "error_id", "click_id")


def _dstat(fn: str, x: str) -> str:
    # min/max through the same decimal(38,10) cast the Spark cascade uses,
    # so both engines round-trip the double identically
    return f"round(CAST({fn}(CAST({x} AS DECIMAL(38,10))) AS DOUBLE), 5)"


@register(
    "events_rollup_cascade",
    oracle=f"""
WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events)
SELECT 'hour' AS grain, date_trunc('hour', ts) AS bucket_start, event_type,
       count(*) AS n_events, {dsum('value')} AS sum_value,
       {_dstat('min', 'value')} AS min_value, {_dstat('max', 'value')} AS max_value
FROM e GROUP BY 2, 3
UNION ALL
SELECT 'day', date_trunc('day', ts), event_type,
       count(*), {dsum('value')}, {_dstat('min', 'value')}, {_dstat('max', 'value')}
FROM e GROUP BY 2, 3
ORDER BY grain, bucket_start, event_type
""",
    tags=("streaming", "rollup"),
    notes="Hypertable-style cascade rollup (operators/rollup.py): hourly "
    "buckets from raw, daily buckets from the hourly decimal partials — "
    "one raw shuffle total; the DuckDB oracle aggregates each grain "
    "directly from raw, proving the cascade is value-identical.",
)
def events_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rollup import cascade_rollup

    ev = load_table(spark, "events", sf_dir)
    return cascade_rollup(
        ev, "ts", ("event_type",), "value", grains=("hour", "day")
    ).orderBy("grain", "bucket_start", "event_type")


@register(
    "events_gapfill_hourly",
    oracle=f"""
WITH agg AS (
  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket,
         count(*) AS n_events, {dsum('value')} AS sum_value
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT event_type, min(bucket) AS lo, max(bucket) AS hi FROM agg GROUP BY 1
), grid AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
  FROM bounds
)
SELECT g.event_type, g.bucket,
       coalesce(a.n_events, 0) AS n_events,
       last_value(a.sum_value IGNORE NULLS) OVER (
         PARTITION BY g.event_type ORDER BY g.bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_sum
FROM grid g LEFT JOIN agg a
  ON g.event_type IS NOT DISTINCT FROM a.event_type AND g.bucket = a.bucket
ORDER BY g.event_type, g.bucket
""",
    tags=("timeseries", "gapfill"),
    notes="Densified hourly series per event_type with forward-filled sums "
    "(operators/gapfill.py): sequence+explode grid, left join, ignorenulls "
    "last() window — the DuckDB twin uses generate_series + IGNORE NULLS.",
)
def events_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.gapfill import gapfill

    return gapfill(
        load_table(spark, "events", sf_dir), "event_type", "ts", "value"
    ).orderBy("event_type", "bucket")  # display order lives here, not in
    # the operator (r9: the baked-in global sort was an extra exchange)


# First-touch funnel: per-user min timestamp per stage, strict ordering
# between stages. Same text on both engines except the ns→us CAST guard
# (see module docstring); one row out, four counters.
_FUNNEL = """
WITH f AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN {ts} END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN {ts} END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN {ts} END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT count(*) AS n_users,
       count(t_view) AS n_view,
       count(CASE WHEN t_click > t_view THEN 1 END) AS n_view_click,
       count(CASE WHEN t_purchase > t_click AND t_click > t_view THEN 1 END)
         AS n_full_funnel
FROM f
"""

register_sql(
    "funnel_view_click_purchase",
    spark_sql=_FUNNEL.format(ts="ts"),
    duck_sql=_FUNNEL.format(ts="CAST(ts AS TIMESTAMP)"),
    tags=("analytics", "funnel"),
    notes="First-touch conversion funnel view→click→purchase over events: "
    "conditional min per stage, strict event-time ordering between stages.",
)


@register(
    "streaming_enrich_live",
    oracle=f"""
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS win_start,
       c_mktsegment,
       count(*) AS n_events,
       {dsum('value')} AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
ORDER BY win_start, c_mktsegment
""",
    tags=("streaming", "live", "join"),
    notes="REAL stream-static enrichment run: readStream(events) joined to "
    "the static customer dimension (broadcast — the dim is re-read per "
    "micro-batch, so slowly-changing dims pick up updates), then a "
    "watermarked tumbling agg per market segment, availableNow drain. The "
    "standard pattern for enriching an event stream with reference data.",
)
def streaming_enrich_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import streaming as st

    stream = st.events_file_stream(spark, sf_dir).withColumn(
        "value", F.col("value").cast("decimal(38,10)")
    )
    dim = load_table(spark, "customer", sf_dir).select("c_custkey", "c_mktsegment")
    joined = stream.join(F.broadcast(dim), stream.user_id == dim.c_custkey)
    agg = (
        joined.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), "c_mktsegment")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("win_start"),
            "c_mktsegment",
            "n_events",
            F.round(F.col("sum_value").cast("double"), 5).alias("sum_value"),
        )
    )
    return st.drain(agg, "complete").orderBy("win_start", "c_mktsegment")


@register(
    "asof_join_forward_tol",
    oracle="""
WITH l AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'purchase'
), r AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, max(value) AS click_value
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, CAST(ts AS TIMESTAMP)
), j AS (
  SELECT l.event_id, l.user_id, l.ts, r.click_value, r.ts AS r_ts
  FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.ts >= l.ts
)
SELECT event_id, user_id, ts,
       CASE WHEN r_ts IS NOT NULL AND epoch(r_ts) - epoch(ts) <= 1800
            THEN click_value END AS click_value
FROM j ORDER BY event_id
""",
    tags=("streaming", "asof"),
    notes="FORWARD as-of with tolerance: each purchase attaches the next "
    "click within 30 minutes (pandas merge_asof(direction='forward', "
    "tolerance=...) semantics). Same union+window plan as backward, "
    "descending order; oracle = DuckDB forward ASOF + an epoch-gap gate.",
)
def asof_join_forward_tol(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    out = asof_join(
        purchases, clicks, on="ts", by="user_id",
        direction="forward", tolerance_seconds=1800,
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.col("click_value_right").alias("click_value"),
    ).orderBy("event_id")


@register(
    "streaming_session_live",
    oracle=f"""
WITH base AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
), marked AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT *, sum(new_session) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM marked
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events,
       {dsum('value')} AS sum_value
FROM numbered
GROUP BY user_id, session_id
ORDER BY user_id, session_start
""",
    tags=("streaming", "live", "session"),
    notes="REAL session_window streaming run: readStream(events) → "
    "watermark → gap-based session agg (30 min) → availableNow drain. "
    "Spark session semantics: a session ENDS gap after its last event "
    "(session_end = max(ts) + gap) and a new one starts when the "
    "inter-event gap is >= the gap duration — the oracle's lag/cumsum "
    "twin replays exactly that (>= split, +interval end).",
)
def streaming_session_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import streaming as st

    stream = st.events_file_stream(spark, sf_dir).withColumn(
        "value", F.col("value").cast("decimal(38,10)")
    )
    agg = st.session_counts(stream).withColumn(
        "sum_value", F.round(F.col("sum_value").cast("double"), 5)
    )
    return st.drain(agg, "complete").orderBy("user_id", "session_start")


@register(
    "events_distinct_sketch_cascade",
    oracle=None,  # Datasketches HLL has no DuckDB twin — rows-only; the
    # estimate-vs-exact bound is pytest-asserted (test_rollup_sampling).
    tags=("streaming", "rollup", "sketch"),
    notes="Mergeable-sketch distinct cascade: hourly hll_sketch_agg(user_id) "
    "pre-aggregates, day-level distincts via hll_union_agg WITHOUT "
    "re-scanning raw — THE 100 TB pattern for distinct-count rollups "
    "(store tiny sketches per grain, merge upward; exact count_distinct "
    "cannot merge). One raw shuffle to hours; the day merge shuffles "
    "n_hours sketch blobs.",
)
def events_distinct_sketch_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour_start")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"), F.count("*").alias("n_events"))
    return (
        hourly.groupBy(F.date_trunc("day", F.col("hour_start")).alias("day_start"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users"),
            F.sum("n_events").alias("n_events"),
        )
        .orderBy("day_start")
    )


@register(
    "streaming_sliding_live",
    oracle=f"""
WITH e AS (
  SELECT CAST(ts AS TIMESTAMP) AS ts, value,
         -- make_timestamp(us) is timezone-FREE; the old
         -- to_timestamp(epoch) round-trip produced a TIMESTAMPTZ whose
         -- naive cast renders in the DuckDB session TimeZone (r10
         -- review - false-red on any harness that does not pin TZ)
         make_timestamp((epoch_us(CAST(ts AS TIMESTAMP))
              // 1800000000) * 1800000000) AS t30
  FROM events
), expanded AS (
  SELECT unnest([t30, t30 - INTERVAL 30 MINUTE]) AS win_start, value FROM e
)
SELECT win_start, count(*) AS n_events, {dsum('value')} AS sum_value
FROM expanded GROUP BY 1 ORDER BY win_start
""",
    tags=("streaming", "live", "window"),
    notes="REAL sliding-window streaming run (1 h window / 30 min slide): "
    "readStream -> watermark -> F.window agg -> availableNow drain; "
    "complete-mode bounded replay equals the batch twin "
    "events_sliding_1h_30m's expansion oracle.",
)
def streaming_sliding_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import streaming as st

    stream = st.events_file_stream(spark, sf_dir).withColumn(
        "value", F.col("value").cast("decimal(38,10)")
    )
    agg = st.sliding_counts(stream).withColumn(
        "sum_value", F.round(F.col("sum_value").cast("double"), 5)
    )
    return st.drain(agg, "complete").orderBy("win_start")


@register(
    "streaming_dedup_live",
    oracle="""
SELECT DISTINCT user_id, event_type FROM events
ORDER BY user_id, event_type
""",
    tags=("streaming", "live", "dedup"),
    notes="REAL dropDuplicatesWithinWatermark streaming run: one emitted "
    "row per (user_id, event_type) key with bounded event-time state. "
    "Only the KEY columns are projected — which payload row wins depends "
    "on micro-batch processing order (legitimately nondeterministic), but "
    "the emitted key set is exact, so the oracle is SELECT DISTINCT. The "
    "deterministic keep-first-by-event-time variant is the batch twin "
    "events_dedup_first.",
)
def streaming_dedup_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import streaming as st

    stream = st.events_file_stream(spark, sf_dir)
    out = st.dedup_stream(stream).select("user_id", "event_type")
    return st.drain(out, "append").orderBy("user_id", "event_type")


@register(
    "events_ewma_value",
    oracle="""
WITH v AS (
  SELECT event_id, user_id, value,
         list(value) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS vals
  FROM events WHERE user_id < 20
)
SELECT event_id, user_id,
       round(
         list_sum(list_transform(generate_series(1, len(vals)),
                                 i -> vals[i] * pow(0.5, len(vals) - i)))
         / ((1.0 - pow(0.5, len(vals))) / 0.5), 6) AS ewma
FROM v ORDER BY user_id, event_id
""",
    tags=("timeseries", "window"),
    notes="Per-user EWMA over the last 16 events (operators/gapfill.ewma, "
    "pandas ewm(adjust=True) semantics on a bounded frame): partitioned "
    "window collect_list + codegen array-lambda fold — no global-order "
    "window, O(window) per row. decay=0.5 makes weights exact binary "
    "powers, so both engines produce bit-identical doubles.",
)
def events_ewma_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.gapfill import ewma

    ev = load_table(spark, "events", sf_dir).filter(F.col("user_id") < 20)
    return (
        ewma(ev, ["user_id"], ["ts", "event_id"], "value",
             decay=0.5, window=16)
        .select("event_id", "user_id", "ewma")
        .orderBy("user_id", "event_id")
    )


register_sql(
    "events_time_bucket_15min",
    spark_sql=f"""
SELECT window(ts, '15 minutes').start AS bucket,
       count(*) AS n_events,
       {dsum('value')} AS sum_value
FROM events
WHERE event_type = 'click'
GROUP BY window(ts, '15 minutes')
ORDER BY bucket
""",
    duck_sql=f"""
SELECT time_bucket(INTERVAL 15 MINUTE, CAST(ts AS TIMESTAMP)) AS bucket,
       count(*) AS n_events,
       {dsum('value')} AS sum_value
FROM events
WHERE event_type = 'click'
GROUP BY 1
ORDER BY bucket
""",
    tags=("timeseries", "window"),
    notes="Sub-hour time-bucket downsampling: Spark's window(ts, '15 "
    "minutes') tumbling GROUP BY ≙ DuckDB time_bucket — epoch-aligned "
    "on both engines. The batch twin of the streaming tumbling path at "
    "finer-than-hour grain; filter pushed to the scan.",
)


_SESSION_NUMBERED_SPARK = """
WITH marked AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN unix_micros(ts) - lag(unix_micros(ts)) OVER w > 1800000000
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT *, sum(new_session) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM marked
)
"""

_SESSION_NUMBERED_DUCK = """
WITH base AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
), marked AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
              OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT *, sum(new_session) OVER (
    PARTITION BY user_id ORDER BY ts, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM marked
)
"""

#: Full session-transcripts DuckDB SQL — shared verbatim by the batch
#: twin (session_transcripts.duck_sql) and the stateful streaming
#: entry's oracle (streaming_session_transcripts_live), which is
#: DOCUMENTED to equal it exactly; one constant instead of two copies
#: that can drift (r10 review).
_SESSION_TRANSCRIPTS_DUCK = _SESSION_NUMBERED_DUCK.rstrip() + """, pre AS (
  SELECT user_id, CAST(session_id AS BIGINT) AS session_id, ts, event_id,
         event_type,
         min(ts) OVER (PARTITION BY user_id, session_id) AS session_start
  FROM numbered
)
SELECT user_id, session_id, count(*) AS n_turns,
       string_agg(event_type || '@' ||
                  CAST((epoch_us(ts) - epoch_us(session_start)) // 1000000
                       AS VARCHAR),
                  ' ' ORDER BY ts, event_id) AS transcript
FROM pre GROUP BY user_id, session_id ORDER BY user_id, session_id
"""

register_sql(
    "session_entry_exit",
    spark_sql=_SESSION_NUMBERED_SPARK + """
SELECT user_id, session_id,
       min_by(event_type,
              format_string('%020d|%020d', unix_micros(ts), event_id))
         AS entry_type,
       max_by(event_type,
              format_string('%020d|%020d', unix_micros(ts), event_id))
         AS exit_type,
       count(*) AS n_events,
       max(unix_micros(ts)) - min(unix_micros(ts)) AS duration_us
FROM numbered
GROUP BY user_id, session_id
ORDER BY user_id, session_id
""",
    duck_sql=_SESSION_NUMBERED_DUCK + """
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       arg_min(event_type, printf('%020d|%020d', epoch_us(ts), event_id))
         AS entry_type,
       arg_max(event_type, printf('%020d|%020d', epoch_us(ts), event_id))
         AS exit_type,
       count(*) AS n_events,
       max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us
FROM numbered
GROUP BY user_id, session_id
ORDER BY user_id, session_id
""",
    tags=("timeseries", "session"),
    notes="Per-session entry/exit analysis: first and last event type via "
    "min_by/max_by ≙ arg_min/arg_max on a zero-padded (ts, event_id) "
    "string key — a total order (both fields padded to 20 digits, the "
    "full int64 range; a 10-digit id pad stopped being an order at ids "
    "≥ 1e10 since printf does not truncate — r10 review), so "
    "arg-extrema are deterministic on both engines — plus exact integer microsecond durations. Same 30-min-gap "
    "lag/cumsum sessionization as events_sessionized, one extra hash agg.",
)


register_sql(
    "user_activity_streaks",
    spark_sql="""
WITH hrs AS (
  SELECT DISTINCT user_id,
         unix_micros(ts) DIV 3600000000 AS hr
  FROM events
), isl AS (
  SELECT user_id, hr,
         hr - row_number() OVER (PARTITION BY user_id ORDER BY hr)
           AS island
  FROM hrs
)
SELECT user_id,
       count(*) AS n_streaks,
       max(streak_len) AS longest_streak_hours
FROM (
  SELECT user_id, island, count(*) AS streak_len
  FROM isl GROUP BY user_id, island
)
GROUP BY user_id
ORDER BY user_id
""",
    duck_sql="""
WITH hrs AS (
  SELECT DISTINCT user_id,
         epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr
  FROM events
), isl AS (
  SELECT user_id, hr,
         hr - row_number() OVER (PARTITION BY user_id ORDER BY hr)
           AS island
  FROM hrs
)
SELECT user_id,
       count(*) AS n_streaks,
       max(streak_len) AS longest_streak_hours
FROM (
  SELECT user_id, island, count(*) AS streak_len
  FROM isl GROUP BY user_id, island
)
GROUP BY user_id
ORDER BY user_id
""",
    tags=("timeseries", "window"),
    notes="Gaps-and-islands per user: contiguous active-hour runs via the "
    "classic hr − row_number island key, then per-user streak count and "
    "longest streak. All windows partitioned by user — no global-order "
    "bottleneck; integer hour buckets keep both engines exact.",
)


register_sql(
    "events_distinct_bitmap_cascade",
    spark_sql="""
WITH hourly AS (
  SELECT date_trunc('hour', ts) AS h,
         bitmap_bucket_number(user_id) AS bkt,
         bitmap_construct_agg(bitmap_bit_position(user_id)) AS bm
  FROM events GROUP BY 1, 2
), daily AS (
  SELECT CAST(date_trunc('day', h) AS DATE) AS day, bkt,
         bitmap_or_agg(bm) AS bm
  FROM hourly GROUP BY 1, 2
)
SELECT day, CAST(sum(bitmap_count(bm)) AS BIGINT) AS n_users
FROM daily GROUP BY day ORDER BY day
""",
    duck_sql="""
SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
       count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1 ORDER BY day
""",
    tags=("timeseries", "rollup", "bitmap"),
    notes="EXACT distinct-user day rollup from mergeable hourly bitmaps "
    "(Spark 3.5 bitmap_construct_agg / bitmap_or_agg / bitmap_count), "
    "bucketed by bitmap_bucket_number so each 32k id range owns its own "
    "bitmap — the exact counterpart of the HLL sketch cascade "
    "(events_distinct_sketch_cascade): same one-raw-scan merge shape, "
    "zero estimation error, memory ∝ distinct ids / 8 bits. The oracle "
    "is the plain COUNT(DISTINCT) the cascade must reproduce exactly.",
)


register_sql(
    "session_transcripts",
    spark_sql=_SESSION_NUMBERED_SPARK.rstrip() + """, agg AS (
  SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
         count(*) AS n_turns, min(ts) AS session_start,
         array_sort(collect_list(struct(ts, event_id, event_type))) AS evs
  FROM numbered GROUP BY user_id, session_id
)
SELECT user_id, session_id, n_turns,
       array_join(transform(evs,
         x -> concat(x.event_type, '@',
                     CAST((unix_micros(x.ts) - unix_micros(session_start))
                          DIV 1000000 AS STRING))), ' ') AS transcript
FROM agg ORDER BY user_id, session_id
""",
    duck_sql=_SESSION_TRANSCRIPTS_DUCK,
    tags=("llmops", "streaming-batch", "curation"),
    notes="Session-transcript assembly: the event stream becomes ordered "
    "per-session training text ('type@offset-seconds' turns) — how a "
    "behavioral corpus is linearized for sequence-model training. Same "
    "lag/cumsum 30-min sessionization as events_sessionized; the "
    "transcript is built ENTIRELY inside the session aggregate "
    "(array_sort(collect_list(struct)) → transform → array_join, "
    "deterministic by (ts, event_id)) ≙ DuckDB's ordered string_agg — "
    "no second pass over the events.",
)


@register(
    "streaming_drift_live",
    oracle="""
WITH obs AS (
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS win_start,
         event_type, count(*) AS o
  FROM events GROUP BY 1, 2
),
ref AS (SELECT event_type, count(*) AS nt FROM events GROUP BY 1),
tot AS (SELECT count(*) AS n FROM events),
wtot AS (
  SELECT win_start, CAST(sum(o) AS BIGINT) AS nw FROM obs GROUP BY 1
),
terms AS (
  SELECT obs.win_start,
         (obs.o - ref.nt * wtot.nw / CAST(tot.n AS DOUBLE))
           * (obs.o - ref.nt * wtot.nw / CAST(tot.n AS DOUBLE))
           / (ref.nt * wtot.nw / CAST(tot.n AS DOUBLE)) AS term,
         ref.nt * wtot.nw / CAST(tot.n AS DOUBLE) AS e
  FROM obs
  JOIN ref USING (event_type)
  JOIN wtot USING (win_start), tot
)
SELECT t.win_start, w.nw AS n_events,
       round(CAST(sum(CAST(t.term AS DECIMAL(38,10))) AS DOUBLE)
             + (w.nw - CAST(sum(CAST(t.e AS DECIMAL(38,10))) AS DOUBLE)),
             4) AS chi2
FROM terms t JOIN wtot w USING (win_start)
GROUP BY t.win_start, w.nw ORDER BY t.win_start
""",
    tags=("streaming", "live", "stats"),
    notes="REAL streaming drift monitor: readStream(events) → watermarked "
    "hourly tumbling counts per event_type (availableNow drain), then "
    "each window's type distribution is chi-square-scored against the "
    "static reference distribution (stream-side = windowed counts only; "
    "scoring joins the drained sink to the broadcast reference — the "
    "alerting pattern for upstream-feed composition changes). Missing-"
    "type terms folded closed-form as in source_drift_chi2; decimal-sum "
    "discipline; oracle = the batch twin over the same events.",
)
def streaming_drift_live(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .. import streaming as st

    stream = st.events_file_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("o"))
        .select(
            F.col("win.start").alias("win_start"), "event_type", "o"
        )
    )
    obs = st.drain(agg, "complete")
    ev = load_table(spark, "events", sf_dir)
    ref = ev.groupBy("event_type").agg(F.count("*").alias("nt"))
    tot = ev.agg(F.count("*").alias("n"))
    # rename the window key on the totals side: both frames descend from
    # the same memory-sink attributes and a same-name equi-join on them
    # trips Catalyst's conflicting-attribute check.
    wtot = obs.groupBy(F.col("win_start").alias("__ws")).agg(
        F.sum("o").cast("bigint").alias("nw")
    )
    exp = F.col("nt") * F.col("nw") / F.col("n").cast("double")
    terms = (
        obs.join(F.broadcast(ref), "event_type")
        .join(wtot, F.col("win_start") == F.col("__ws"))
        .crossJoin(F.broadcast(tot))
        .select(
            "win_start",
            "nw",
            ((F.col("o") - exp) * (F.col("o") - exp) / exp).alias("term"),
            exp.alias("e"),
        )
    )
    return (
        terms.groupBy("win_start", "nw")
        .agg(
            F.round(
                F.sum(F.col("term").cast("decimal(38,10)")).cast("double")
                + (
                    F.col("nw")
                    - F.sum(F.col("e").cast("decimal(38,10)")).cast("double")
                ),
                4,
            ).alias("chi2")
        )
        .select(
            "win_start", F.col("nw").alias("n_events"), "chi2"
        )
        .orderBy("win_start")
    )


@register(
    "streaming_trending_tokens",
    oracle="""
WITH toks AS (
  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS win_start,
         unnest(regexp_extract_all(lower(props), '[a-z]+')) AS token
  FROM events
), cnt AS (
  SELECT win_start, token, count(*) AS n
  FROM toks GROUP BY win_start, token
), r AS (
  SELECT win_start, token, n,
         CAST(row_number() OVER (
           PARTITION BY win_start ORDER BY n DESC, token) AS INT) AS rank
  FROM cnt
)
SELECT win_start, token, n, rank FROM r
WHERE rank <= 3 ORDER BY win_start, rank
""",
    tags=("streaming", "live", "text"),
    notes="REAL streaming trending-token feed: readStream(events) → "
    "per-event token explode (narrow, rides the stream) → watermarked "
    "hourly (window, token) counts drained availableNow; the top-3 rank "
    "runs on the drained sink (rank windows are unsupported inside a "
    "streaming agg — the split is the documented pattern). Oracle = the "
    "batch twin. The live dashboard primitive for what a feed is "
    "suddenly full of.",
)
def streaming_trending_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .. import streaming as st

    stream = st.events_file_stream(spark, sf_dir)
    toks = stream.select(
        "ts",
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col("props")), F.lit("[a-z]+"), 0
            )
        ).alias("token"),
    )
    agg = (
        toks.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("win"), "token")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("win_start"), "token", "n")
    )
    cnt = st.drain(agg, "complete")
    w = Window.partitionBy("win_start").orderBy(
        F.col("n").desc(), F.col("token")
    )
    return (
        cnt.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .orderBy("win_start", "rank")
    )


register_sql(
    "events_anomaly_zscore",
    spark_sql="""
WITH hourly AS (
  SELECT event_type, window(ts, '1 hour').start AS hr, count(*) AS n
  FROM events GROUP BY event_type, window(ts, '1 hour')
), span AS (
  SELECT event_type, min(hr) AS lo, max(hr) AS hi FROM hourly
  GROUP BY event_type
), grid AS (
  SELECT event_type, explode(sequence(lo, hi, INTERVAL 1 HOUR)) AS hr
  FROM span
), dense AS (
  -- calendar-DENSE per-type hour axis: on the sparse aggregate a ROWS
  -- frame spans the last 24 OBSERVED hours (reaching across outages),
  -- and an outage hour has no row at all - the one anomaly a feed
  -- monitor most needs to flag could never alert (r10 review)
  SELECT g.event_type, g.hr, coalesce(h.n, 0) AS n
  FROM grid g LEFT JOIN hourly h
    ON h.event_type = g.event_type AND h.hr = g.hr
), stats AS (
  SELECT event_type, hr, n,
         CAST(sum(CAST(n AS DECIMAL(38,10))) OVER w AS DOUBLE) AS s1,
         CAST(sum(CAST(n * n AS DECIMAL(38,10))) OVER w AS DOUBLE) AS s2,
         count(*) OVER w AS cnt
  FROM dense
  WINDOW w AS (PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
), scored AS (
  SELECT event_type, hr, n, cnt,
         round((n - s1 / cnt)
               / nullif(sqrt((s2 - s1 * s1 / cnt) / cnt), 0.0), 4) AS z
  FROM stats WHERE cnt >= 12
)
SELECT event_type, hr, n, CAST(cnt AS BIGINT) AS n_baseline_hours, z
FROM scored WHERE abs(z) >= 3.0
ORDER BY event_type, hr
""",
    duck_sql="""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
         count(*) AS n
  FROM events GROUP BY 1, 2
), span AS (
  SELECT event_type, min(hr) AS lo, max(hr) AS hi FROM hourly
  GROUP BY event_type
), grid AS (
  SELECT event_type,
         unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
  FROM span
), dense AS (
  SELECT g.event_type, g.hr, coalesce(h.n, 0) AS n
  FROM grid g LEFT JOIN hourly h
    ON h.event_type = g.event_type AND h.hr = g.hr
), stats AS (
  SELECT event_type, hr, n,
         CAST(sum(CAST(n AS DECIMAL(38,10))) OVER w AS DOUBLE) AS s1,
         CAST(sum(CAST(n * n AS DECIMAL(38,10))) OVER w AS DOUBLE) AS s2,
         count(*) OVER w AS cnt
  FROM dense
  WINDOW w AS (PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
), scored AS (
  SELECT event_type, hr, n, cnt,
         round((n - s1 / cnt)
               / nullif(sqrt((s2 - s1 * s1 / cnt) / cnt), 0.0), 4) AS z
  FROM stats WHERE cnt >= 12
)
SELECT event_type, hr, n, CAST(cnt AS BIGINT) AS n_baseline_hours, z
FROM scored WHERE abs(z) >= 3.0
ORDER BY event_type, hr
""",
    tags=("llmops", "streaming-batch", "stats", "quality"),
    notes="Hourly event-volume anomaly detection: per-type z-score of "
    "each hour's count against its own TRAILING 24-hour baseline "
    "(exclusive frame — the current hour can't dilute its own "
    "baseline; ≥ 12 baseline hours required before alerting). The hour "
    "axis is densified per type over its observed span (sequence/"
    "generate_series grid, zero-count fill), so the ROWS frame is a "
    "true 24 CALENDAR hours and a silent feed (n=0 against a busy "
    "baseline) alerts — on the sparse aggregate it had no row to "
    "score (r10 review). Variance "
    "from the decimal two-moment identity (aggregation-order-"
    "independent, the embedding_dim_stats discipline); per-type "
    "partitioned windows keep the scan parallel. The pipeline-health "
    "alert for feed outages and volume spikes.",
)


@register(
    "streaming_session_transcripts_live",
    oracle=_SESSION_TRANSCRIPTS_DUCK,
    tags=("streaming", "stateful", "live", "curation"),
    notes="REAL applyInPandasWithState run "
    "(streaming/stateful.session_transcripts_stream): arbitrary-state "
    "30-min-gap sessionizer that BUFFERS each user's open events and "
    "closes a session only once the watermark passes its last event + "
    "gap (a data-observed gap alone is unsafe against late arrivals); "
    "closed sessions emit exactly once, the open tail emits provisional "
    "update rows, and the drained newest (max emit_seq) row per (user, "
    "session) "
    "equals the batch session_transcripts twin EXACTLY — the streaming "
    "path for linearizing behavioral streams into training text.",
)
def streaming_session_transcripts_live(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    from .. import streaming as st
    from ..streaming.stateful import session_transcripts_stream

    stream = st.events_file_stream(spark, sf_dir)
    out = session_transcripts_stream(stream)
    drained = st.drain(out, "update")
    # keep each (user, session_id)'s NEWEST emission (max emit_seq), not
    # its max-n_turns row: provisional ids can shift when a late event
    # opens an earlier session, so a stale provisional row under a
    # reused id could out-turn the true one (stateful.TRANSCRIPT_STATE)
    w = Window.partitionBy("user_id", "session_id").orderBy(
        F.col("emit_seq").desc()
    )
    return (
        drained.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        # n_turns == 0 rows are RETRACTIONS (r9): a late event that
        # merges two buffered open sessions shrinks the live-id set, and
        # the operator emits a zero-turn row (newest emit_seq) for each
        # merged-away provisional id so it doesn't stand as a phantom
        .filter(F.col("n_turns") > 0)
        .select("user_id", "session_id", "n_turns", "transcript")
        .orderBy("user_id", "session_id")
    )


register_sql(
    "session_type_affinity",
    spark_sql=_SESSION_NUMBERED_SPARK.rstrip() + """, st AS (
  SELECT DISTINCT user_id, session_id, event_type FROM numbered
), n AS (
  SELECT count(DISTINCT struct(user_id, session_id)) AS n_sessions FROM st
), single AS (
  SELECT event_type, count(*) AS c FROM st GROUP BY event_type
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS c_ab
  FROM st a JOIN st b
    ON a.user_id = b.user_id AND a.session_id = b.session_id
   AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT p.type_a, p.type_b, p.c_ab AS n_cooccur,
       round(p.c_ab * n.n_sessions
             / CAST(sa.c * sb.c AS DOUBLE), 6) AS lift
FROM pairs p
JOIN single sa ON sa.event_type = p.type_a
JOIN single sb ON sb.event_type = p.type_b
CROSS JOIN n
ORDER BY type_a, type_b
""",
    duck_sql=_SESSION_NUMBERED_DUCK.rstrip() + """, st AS (
  SELECT DISTINCT user_id, session_id, event_type FROM numbered
), n AS (
  SELECT count(*) AS n_sessions
  FROM (SELECT DISTINCT user_id, session_id FROM st)
), single AS (
  SELECT event_type, count(*) AS c FROM st GROUP BY event_type
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS c_ab
  FROM st a JOIN st b
    ON a.user_id = b.user_id AND a.session_id = b.session_id
   AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT p.type_a, p.type_b, CAST(p.c_ab AS BIGINT) AS n_cooccur,
       round(p.c_ab * n.n_sessions
             / CAST(sa.c * sb.c AS DOUBLE), 6) AS lift
FROM pairs p
JOIN single sa ON sa.event_type = p.type_a
JOIN single sb ON sb.event_type = p.type_b
CROSS JOIN n
ORDER BY type_a, type_b
""",
    tags=("llmops", "streaming-batch", "stats"),
    notes="Session-level event-type affinity (market-basket lift): which "
    "behaviors co-occur within the same 30-min session, normalized by "
    "independence (lift = P(a,b)·N / (P(a)·P(b)·N²) on session counts). "
    "Same sessionizer CTE as events_sessionized; the pair join runs on "
    "the DISTINCT (session, type) reduction — ≤ types rows per session, "
    "so fan-out is bounded at C(types,2) per session at any scale.",
)


register_sql(
    "user_rfm_segments",
    spark_sql="""
WITH mx AS (SELECT max(ts) AS now_ts FROM events),
rfm AS (
  SELECT user_id,
         CAST((unix_micros(mx.now_ts) - unix_micros(max(e.ts)))
              DIV 86400000000 AS BIGINT) AS recency_days,
         count(*) AS frequency,
         round(CAST(sum(CAST(e.value AS DECIMAL(38,10))) AS DOUBLE), 2)
           AS monetary
  FROM events e CROSS JOIN mx
  GROUP BY user_id, mx.now_ts
), bounds AS (
  SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY recency_days) AS r_med,
         percentile_disc(0.5) WITHIN GROUP (ORDER BY frequency) AS f_med,
         percentile_disc(0.5) WITHIN GROUP (ORDER BY monetary) AS m_med
  FROM rfm
), scored AS (
  SELECT r.user_id, r.recency_days, r.frequency, r.monetary,
         CASE WHEN r.recency_days <= b.r_med THEN 2 ELSE 1 END AS r_score,
         CASE WHEN r.frequency > b.f_med THEN 2 ELSE 1 END AS f_score,
         CASE WHEN r.monetary > b.m_med THEN 2 ELSE 1 END AS m_score
  FROM rfm r CROSS JOIN bounds b
)
SELECT user_id, recency_days, frequency, monetary,
       r_score, f_score, m_score,
       CASE WHEN r_score = 2 AND f_score = 2 AND m_score = 2
              THEN 'champion'
            WHEN r_score = 2 AND f_score = 2 THEN 'loyal'
            WHEN r_score = 2 THEN 'recent'
            WHEN f_score = 2 OR m_score = 2 THEN 'at_risk'
            ELSE 'hibernating' END AS segment
FROM scored ORDER BY user_id
""",
    duck_sql="""
WITH mx AS (SELECT max(CAST(ts AS TIMESTAMP)) AS now_ts FROM events),
rfm AS (
  SELECT user_id,
         CAST((epoch_us(mx.now_ts) - epoch_us(max(CAST(e.ts AS TIMESTAMP))))
              // 86400000000 AS BIGINT) AS recency_days,
         count(*) AS frequency,
         round(CAST(sum(CAST(e.value AS DECIMAL(38,10))) AS DOUBLE), 2)
           AS monetary
  FROM events e CROSS JOIN mx
  GROUP BY user_id, mx.now_ts
), bounds AS (
  SELECT quantile_disc(recency_days, 0.5) AS r_med,
         quantile_disc(frequency, 0.5) AS f_med,
         quantile_disc(monetary, 0.5) AS m_med
  FROM rfm
), scored AS (
  SELECT r.user_id, r.recency_days, r.frequency, r.monetary,
         CASE WHEN r.recency_days <= b.r_med THEN 2 ELSE 1 END AS r_score,
         CASE WHEN r.frequency > b.f_med THEN 2 ELSE 1 END AS f_score,
         CASE WHEN r.monetary > b.m_med THEN 2 ELSE 1 END AS m_score
  FROM rfm r CROSS JOIN bounds b
)
SELECT user_id, recency_days, frequency, monetary,
       r_score, f_score, m_score,
       CASE WHEN r_score = 2 AND f_score = 2 AND m_score = 2
              THEN 'champion'
            WHEN r_score = 2 AND f_score = 2 THEN 'loyal'
            WHEN r_score = 2 THEN 'recent'
            WHEN f_score = 2 OR m_score = 2 THEN 'at_risk'
            ELSE 'hibernating' END AS segment
FROM scored ORDER BY user_id
""",
    tags=("llmops", "streaming-batch", "stats"),
    notes="RFM (recency/frequency/monetary) user segmentation — the "
    "classic behavioral-analytics operator: one user-keyed aggregate, "
    "EXACT median thresholds broadcast back (no global ntile window), "
    "deterministic above/below scoring, named segments. Monetary uses "
    "the decimal-sum discipline; recency is exact integer day "
    "arithmetic off the corpus max timestamp.",
)


register_sql(
    "funnel_time_to_convert",
    spark_sql="""
WITH firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN unix_micros(ts) END)
           AS t_view,
         min(CASE WHEN event_type = 'purchase' THEN unix_micros(ts) END)
           AS t_buy
  FROM events GROUP BY user_id
), conv AS (
  SELECT user_id, CAST((t_buy - t_view) DIV 1000000 AS BIGINT) AS secs
  FROM firsts WHERE t_view IS NOT NULL AND t_buy IS NOT NULL
    AND t_buy >= t_view
)
SELECT count(*) AS n_converted,
       CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY secs) AS BIGINT)
         AS p25_secs,
       CAST(percentile_disc(0.5)  WITHIN GROUP (ORDER BY secs) AS BIGINT)
         AS p50_secs,
       CAST(percentile_disc(0.9)  WITHIN GROUP (ORDER BY secs) AS BIGINT)
         AS p90_secs,
       max(secs) AS max_secs
FROM conv
""",
    duck_sql="""
WITH firsts AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view'
                  THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_view,
         min(CASE WHEN event_type = 'purchase'
                  THEN epoch_us(CAST(ts AS TIMESTAMP)) END) AS t_buy
  FROM events GROUP BY user_id
), conv AS (
  SELECT user_id, CAST((t_buy - t_view) // 1000000 AS BIGINT) AS secs
  FROM firsts WHERE t_view IS NOT NULL AND t_buy IS NOT NULL
    AND t_buy >= t_view
)
SELECT count(*) AS n_converted,
       quantile_disc(secs, 0.25) AS p25_secs,
       quantile_disc(secs, 0.5) AS p50_secs,
       quantile_disc(secs, 0.9) AS p90_secs,
       max(secs) AS max_secs
FROM conv
""",
    tags=("llmops", "streaming-batch", "stats"),
    notes="Funnel latency distribution: per-user first-view → "
    "first-purchase conversion time, exact discrete percentiles — the "
    "time-dimension companion to funnel_view_click_purchase (how LONG "
    "conversion takes, not just whether). One conditional-min hash "
    "aggregate + one ObjectHashAggregate percentile pass; exact integer "
    "second arithmetic.",
)


#: DFT basis weights cos/sin(2πkh/24) for k=1..4, h=0..23 — computed once
#: and inlined as identical shortest-repr literals in BOTH engines' plans
#: (Math.cos vs libm cos can differ in the last bit; parsed literals
#: can't — the RBO-weights discipline).
import math as _math

_DFT_GRID_SQL = ", ".join(
    f"({k}, {h}, {_math.cos(2 * _math.pi * k * h / 24)!r}, "
    f"{_math.sin(2 * _math.pi * k * h / 24)!r})"
    for k in range(1, 5)
    for h in range(24)
)

register_sql(
    "events_diurnal_spectrum",
    spark_sql=f"""
WITH hourly AS (
  SELECT hour(ts) AS h, count(*) AS x FROM events GROUP BY hour(ts)
), grid (k, h, c, s) AS (
  VALUES {_DFT_GRID_SQL}
), terms AS (
  SELECT g.k, hourly.x * g.c AS xc, hourly.x * g.s AS xs
  FROM grid g JOIN hourly ON hourly.h = g.h
), sums AS (
  SELECT k,
         CAST(sum(CAST(xc AS DECIMAL(38,10))) AS DOUBLE) AS cs,
         CAST(sum(CAST(xs AS DECIMAL(38,10))) AS DOUBLE) AS sn
  FROM terms GROUP BY k
)
SELECT k, CAST(24 / k AS DOUBLE) AS period_hours,
       round(cs * cs + sn * sn, 2) AS power
FROM sums ORDER BY k
""",
    duck_sql=f"""
WITH hourly AS (
  SELECT hour(CAST(ts AS TIMESTAMP)) AS h, count(*) AS x
  FROM events GROUP BY 1
), grid (k, h, c, s) AS (
  VALUES {_DFT_GRID_SQL}
), terms AS (
  SELECT g.k, hourly.x * g.c AS xc, hourly.x * g.s AS xs
  FROM grid g JOIN hourly ON hourly.h = g.h
), sums AS (
  SELECT k,
         CAST(sum(CAST(xc AS DECIMAL(38,10))) AS DOUBLE) AS cs,
         CAST(sum(CAST(xs AS DECIMAL(38,10))) AS DOUBLE) AS sn
  FROM terms GROUP BY k
)
SELECT k, CAST(24 / k AS DOUBLE) AS period_hours,
       round(cs * cs + sn * sn, 2) AS power
FROM sums ORDER BY k
""",
    tags=("llmops", "streaming-batch", "stats"),
    notes="Diurnal spectral signature: DFT power of the hour-of-day "
    "activity profile at periods 24/12/8/6 h — does the feed breathe "
    "daily, and at which harmonic (the load-profiling/periodicity "
    "detector behind traffic forecasting). The 24-point profile is one "
    "hash aggregate; the 96 cos/sin basis weights are plan-time "
    "literals identical on both engines, and the projections sum as "
    "DECIMAL(38,10) fixed-point.",
)


register_sql(
    "events_wow_growth",
    spark_sql="""
WITH weekly AS (
  SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS week_start,
         count(*) AS n,
         round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 2)
           AS sum_value
  FROM events GROUP BY event_type, date_trunc('week', ts)
)
SELECT event_type, week_start, n, sum_value,
       n - lag(n) OVER w AS n_delta,
       round((n - lag(n) OVER w)
             / nullif(CAST(lag(n) OVER w AS DOUBLE), 0.0) * 100, 4)
         AS n_pct_change
FROM weekly
WINDOW w AS (PARTITION BY event_type ORDER BY week_start)
ORDER BY event_type, week_start
""",
    duck_sql="""
WITH weekly AS (
  SELECT event_type,
         CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE)
           AS week_start,
         count(*) AS n,
         round(CAST(sum(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 2)
           AS sum_value
  FROM events GROUP BY 1, 2
)
SELECT event_type, week_start, n, sum_value,
       n - lag(n) OVER w AS n_delta,
       round((n - lag(n) OVER w)
             / nullif(CAST(lag(n) OVER w AS DOUBLE), 0.0) * 100, 4)
         AS n_pct_change
FROM weekly
WINDOW w AS (PARTITION BY event_type ORDER BY week_start)
ORDER BY event_type, week_start
""",
    tags=("streaming-batch", "stats", "window"),
    notes="Week-over-week growth per event type: ISO-Monday calendar-week "
    "totals + lag deltas and % change — the core KPI-reporting shape. "
    "Weeks key on date_trunc('week') START DATES, not bare weekofyear "
    "ordinals: ordinals conflate week N of different years and misorder "
    "the lag at the 52/53→1 wrap (r8 review; the same hazard "
    "weekly_churn_rates already avoids). Per-type partitioned lag "
    "windows; decimal sums.",
)


@register(
    "events_ses_forecast",
    oracle="""
WITH daily AS (
  SELECT event_type,
         CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
         CAST(count(*) AS DOUBLE) AS n
  FROM events GROUP BY 1, 2
), v AS (
  SELECT event_type, day, n,
         list(n) OVER (
           PARTITION BY event_type ORDER BY day
           ROWS BETWEEN 15 PRECEDING AND CURRENT ROW) AS vals
  FROM daily
), sm AS (
  SELECT event_type, day, n,
         round(
           list_sum(list_transform(generate_series(1, len(vals)),
                    i -> vals[i] * pow(0.5, len(vals) - i)))
           / ((1.0 - pow(0.5, len(vals))) / 0.5), 6) AS smoothed
  FROM v
)
SELECT event_type, day, CAST(n AS BIGINT) AS n,
       lag(smoothed) OVER (PARTITION BY event_type ORDER BY day)
         AS forecast,
       round(abs(n - lag(smoothed) OVER (
         PARTITION BY event_type ORDER BY day)), 6) AS abs_err
FROM sm ORDER BY event_type, day
""",
    tags=("llmops", "streaming-batch", "timeseries"),
    notes="Simple-exponential-smoothing 1-step forecast of daily volumes "
    "per event type: SES level via the bounded-frame EWMA operator "
    "(decay 0.5 ⇒ exact binary-power weights), yesterday's level = "
    "today's forecast, absolute error alongside — the capacity-planning "
    "baseline every volume dashboard starts with. Per-type partitioned "
    "windows only; frame bounded at 16 days.",
)
def events_ses_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.gapfill import ewma

    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        "event_type", F.to_date(F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    sm = ewma(
        daily, ["event_type"], ["day"], "n", decay=0.5, window=16,
        out_col="smoothed",
    )
    w = Window.partitionBy("event_type").orderBy("day")
    return (
        sm.withColumn("forecast", F.lag("smoothed").over(w))
        .select(
            "event_type",
            "day",
            F.col("n").cast("bigint").alias("n"),
            "forecast",
            F.round(F.abs(F.col("n") - F.col("forecast")), 6).alias(
                "abs_err"
            ),
        )
        .orderBy("event_type", "day")
    )


#: Benford first-digit expectations log10(1+1/d) — literals, both engines.
_BENFORD_VALUES_SQL = "(1, 0.3010299956639812), (2, 0.17609125905568124), (3, 0.12493873660829992), (4, 0.09691001300805642), (5, 0.07918124604762482), (6, 0.06694678963061322), (7, 0.05799194697768673), (8, 0.05115252244738129), (9, 0.04575749056067514)"


@register(
    "values_benford_audit",
    oracle=f"""
WITH pos AS (
  SELECT value FROM events WHERE value > 0
), digits AS (
  -- FIRST SIGNIFICANT digit (first [1-9] anywhere in the shortest
  -- round-trip repr), not the first character: the prefix form
  -- silently dropped every value < 1 ('0.25' -> '0' excluded) and
  -- diverged across engines in [1e-4, 1e-3) where Java switches to
  -- scientific notation while DuckDB stays decimal (r10 review)
  SELECT CAST(regexp_extract(CAST(CAST(value AS DOUBLE) AS VARCHAR),
                             '[1-9]', 0) AS INT) AS d
  FROM pos
  WHERE regexp_extract(CAST(CAST(value AS DOUBLE) AS VARCHAR),
                       '[1-9]', 0) <> ''
), obs AS (
  SELECT d, count(*) AS n FROM digits GROUP BY d
), tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM obs),
exp (d, p) AS (VALUES {_BENFORD_VALUES_SQL})
SELECT exp.d, coalesce(obs.n, 0) AS n_obs,
       CAST(round(CAST(exp.p AS DOUBLE) * tot.nt, 0) AS BIGINT)
         AS n_expected,
       round(coalesce(obs.n, 0) / CAST(tot.nt AS DOUBLE), 6) AS frac_obs,
       round(CAST(exp.p AS DOUBLE), 6) AS frac_benford
FROM exp LEFT JOIN obs ON obs.d = exp.d CROSS JOIN tot
ORDER BY exp.d
""",
    tags=("llmops", "stats", "quality"),
    notes="Benford first-digit audit of event values — the classic "
    "fabricated-data / unit-mixing detector: observed leading-digit "
    "frequencies against log10(1+1/d) expectations (inlined as literal "
    "probabilities, identical both engines). First SIGNIFICANT digit "
    "via the first [1-9] of the engines' shared shortest-repr "
    "double-to-string (format-invariant across decimal vs scientific "
    "notation, and sub-1 values keep their Benford digit); one "
    "digit-keyed aggregate.",
)
def values_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, "events", sf_dir)
    pos = ev.filter(F.col("value") > 0)
    d = F.regexp_extract(
        F.col("value").cast("double").cast("string"), "[1-9]", 0
    )
    digits = pos.select(d.alias("ds")).filter(
        F.col("ds") != ""
    ).select(F.col("ds").cast("int").alias("d"))
    obs = digits.groupBy("d").agg(F.count(F.lit(1)).alias("n_obs"))
    tot = obs.agg(F.sum("n_obs").cast("bigint").alias("nt"))
    import math as _m

    exp = spark.createDataFrame(
        [(dd, _m.log10(1 + 1 / dd)) for dd in range(1, 10)],
        "d int, p double",
    )
    return (
        F.broadcast(exp)
        .join(obs, "d", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "d",
            F.coalesce(F.col("n_obs"), F.lit(0).cast("bigint")).alias(
                "n_obs"
            ),
            F.round(F.col("p") * F.col("nt"), 0)
            .cast("bigint")
            .alias("n_expected"),
            F.round(
                F.coalesce(F.col("n_obs"), F.lit(0))
                / F.col("nt").cast("double"),
                6,
            ).alias("frac_obs"),
            F.round(F.col("p"), 6).alias("frac_benford"),
        )
        .orderBy("d")
    )


register_sql(
    "session_top_paths",
    spark_sql=_SESSION_NUMBERED_SPARK.rstrip() + """, seqs AS (
  SELECT user_id, session_id,
         transform(
           array_sort(collect_list(struct(ts, event_id, event_type))),
           x -> x.event_type) AS types
  FROM numbered GROUP BY user_id, session_id
), tri AS (
  SELECT explode(
           transform(sequence(1, size(types) - 2),
             i -> concat_ws('>', types[i - 1], types[i], types[i + 1])))
           AS path
  FROM seqs WHERE size(types) >= 3
)
SELECT path, count(*) AS n_sessions_weighted
FROM tri GROUP BY path
ORDER BY n_sessions_weighted DESC, path LIMIT 10
""",
    duck_sql=_SESSION_NUMBERED_DUCK.rstrip() + """, seqs AS (
  SELECT user_id, session_id,
         list(event_type ORDER BY ts, event_id) AS types
  FROM numbered GROUP BY user_id, session_id
), tri AS (
  SELECT unnest(list_transform(generate_series(1, len(types) - 2),
           i -> types[i] || '>' || types[i + 1] || '>' || types[i + 2]))
           AS path
  FROM seqs WHERE len(types) >= 3
)
SELECT path, count(*) AS n_sessions_weighted
FROM tri GROUP BY path
ORDER BY n_sessions_weighted DESC, path LIMIT 10
""",
    tags=("llmops", "streaming-batch", "stats"),
    notes="Top-10 three-step behavioral paths within sessions (path "
    "mining): per-session ordered type sequences built inside the "
    "session aggregate (array_sort(collect_list(struct)) ≙ DuckDB "
    "ordered list()), trigram paths sliced WITHIN the row, one "
    "path-keyed count + TakeOrderedAndProject. The journey-analysis "
    "complement of event_transitions (first-order) — third-order "
    "context without a positional self-join.",
)


register_sql(
    "user_lookalike_topk",
    spark_sql="""
WITH vec AS (
  SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS DOUBLE) AS v1,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS DOUBLE) AS v2,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS DOUBLE) AS v3,
         CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
              AS DOUBLE) AS v4,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS DOUBLE) AS v5
  FROM events GROUP BY user_id
), seeds AS (
  SELECT * FROM vec WHERE user_id < 3
), scored AS (
  SELECT s.user_id AS seed_id, c.user_id AS candidate_id,
         round((s.v1*c.v1 + s.v2*c.v2 + s.v3*c.v3 + s.v4*c.v4 + s.v5*c.v5)
               / nullif(sqrt(s.v1*s.v1 + s.v2*s.v2 + s.v3*s.v3
                             + s.v4*s.v4 + s.v5*s.v5)
                        * sqrt(c.v1*c.v1 + c.v2*c.v2 + c.v3*c.v3
                               + c.v4*c.v4 + c.v5*c.v5), 0.0), 6)
           AS cosine
  FROM seeds s CROSS JOIN vec c
  WHERE s.user_id <> c.user_id
), ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY seed_id ORDER BY cosine DESC, candidate_id) AS INT)
      AS rank
  FROM scored
)
SELECT seed_id, candidate_id, cosine, rank FROM ranked
WHERE rank <= 5 ORDER BY seed_id, rank
""",
    duck_sql="""
WITH vec AS (
  SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS DOUBLE) AS v1,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS DOUBLE) AS v2,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS DOUBLE) AS v3,
         CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
              AS DOUBLE) AS v4,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS DOUBLE) AS v5
  FROM events GROUP BY user_id
), seeds AS (
  SELECT * FROM vec WHERE user_id < 3
), scored AS (
  SELECT s.user_id AS seed_id, c.user_id AS candidate_id,
         round((s.v1*c.v1 + s.v2*c.v2 + s.v3*c.v3 + s.v4*c.v4 + s.v5*c.v5)
               / nullif(sqrt(s.v1*s.v1 + s.v2*s.v2 + s.v3*s.v3
                             + s.v4*s.v4 + s.v5*s.v5)
                        * sqrt(c.v1*c.v1 + c.v2*c.v2 + c.v3*c.v3
                               + c.v4*c.v4 + c.v5*c.v5), 0.0), 6)
           AS cosine
  FROM seeds s CROSS JOIN vec c
  WHERE s.user_id <> c.user_id
), ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY seed_id ORDER BY cosine DESC, candidate_id) AS INT)
      AS rank
  FROM scored
)
SELECT seed_id, candidate_id, cosine, rank FROM ranked
WHERE rank <= 5 ORDER BY seed_id, rank
""",
    tags=("llmops", "similarity", "stats"),
    notes="Behavioral look-alike audiences: users embedded as event-type "
    "count vectors (one conditional-sum pivot aggregate), top-5 cosine "
    "neighbors per seed user with a FIXED-ORDER dot product (5 literal "
    "terms — no aggregation-order float risk). The seed side is tiny "
    "and broadcast; at production scale the candidate side keeps the "
    "two-phase top-k shape of similarity.cosine_topk.",
)


register_sql(
    "purchase_interval_stats",
    spark_sql="""
WITH buys AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
), gaps AS (
  SELECT user_id,
         CAST((unix_micros(ts) - lag(unix_micros(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id)) DIV 1000000
           AS BIGINT) AS gap_secs
  FROM buys
)
SELECT count(*) AS n_repeat_purchases,
       count(DISTINCT user_id) AS n_repeat_buyers,
       CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY gap_secs)
            AS BIGINT) AS p25_secs,
       CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_secs)
            AS BIGINT) AS p50_secs,
       CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY gap_secs)
            AS BIGINT) AS p90_secs
FROM gaps WHERE gap_secs IS NOT NULL
""",
    duck_sql="""
WITH buys AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id
  FROM events WHERE event_type = 'purchase'
), gaps AS (
  SELECT user_id,
         CAST((epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id)) // 1000000
           AS BIGINT) AS gap_secs
  FROM buys
)
SELECT count(*) AS n_repeat_purchases,
       count(DISTINCT user_id) AS n_repeat_buyers,
       quantile_disc(gap_secs, 0.25) AS p25_secs,
       quantile_disc(gap_secs, 0.5) AS p50_secs,
       quantile_disc(gap_secs, 0.9) AS p90_secs
FROM gaps WHERE gap_secs IS NOT NULL
""",
    tags=("streaming-batch", "stats"),
    notes="Repeat-purchase interval distribution: per-user consecutive "
    "purchase gaps (lag window, exact integer seconds) → count of "
    "repeat events/buyers + discrete percentiles — the replenishment-"
    "cycle statistic behind cadence-based segmentation and churn "
    "windows.",
)


register_sql(
    "dau_mau_stickiness",
    spark_sql="""
WITH daily AS (
  SELECT to_date(ts) AS day, count(DISTINCT user_id) AS dau
  FROM events GROUP BY to_date(ts)
), monthly AS (
  SELECT trunc(to_date(ts), 'MM') AS month,
         count(DISTINCT user_id) AS mau
  FROM events GROUP BY trunc(to_date(ts), 'MM')
), d2 AS (
  SELECT trunc(day, 'MM') AS month,
         round(avg(dau), 4) AS avg_dau,
         max(dau) AS peak_dau,
         count(*) AS n_days
  FROM daily GROUP BY trunc(day, 'MM')
)
SELECT d2.month, d2.n_days, d2.avg_dau, d2.peak_dau, m.mau,
       round(d2.avg_dau / m.mau, 6) AS stickiness
FROM d2 JOIN monthly m ON m.month = d2.month
ORDER BY d2.month
""",
    duck_sql="""
WITH daily AS (
  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
         count(DISTINCT user_id) AS dau
  FROM events GROUP BY 1
), monthly AS (
  SELECT CAST(date_trunc('month', CAST(ts AS TIMESTAMP)) AS DATE) AS month,
         count(DISTINCT user_id) AS mau
  FROM events GROUP BY 1
), d2 AS (
  SELECT CAST(date_trunc('month', day) AS DATE) AS month,
         round(avg(dau), 4) AS avg_dau,
         max(dau) AS peak_dau,
         count(*) AS n_days
  FROM daily GROUP BY 1
)
SELECT d2.month, d2.n_days, d2.avg_dau, d2.peak_dau, m.mau,
       round(d2.avg_dau / m.mau, 6) AS stickiness
FROM d2 JOIN monthly m ON m.month = d2.month
ORDER BY d2.month
""",
    tags=("streaming-batch", "stats"),
    notes="DAU/MAU engagement: per-month average & peak daily actives, "
    "monthly actives, and the DAU/MAU stickiness ratio — the canonical "
    "product-health KPI. Two distinct-count aggregates (Expand-based "
    "exact distinct with partial aggregation) + a month join; avg(dau) "
    "over integer DAUs is exact-then-rounded.",
)


register_sql(
    "weekly_churn_rates",
    spark_sql="""
WITH wk AS (
  SELECT DISTINCT user_id, trunc(to_date(ts), 'week') AS wk FROM events
), pairs AS (
  SELECT a.wk AS wk_from, a.user_id,
         CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END AS churned
  FROM wk a LEFT JOIN wk b
    ON b.user_id = a.user_id AND b.wk = date_add(a.wk, 7)
  WHERE a.wk < (SELECT max(wk) FROM wk)
)
SELECT wk_from, count(*) AS n_active,
       CAST(sum(churned) AS BIGINT) AS n_churned,
       round(sum(churned) / CAST(count(*) AS DOUBLE), 6) AS churn_rate
FROM pairs GROUP BY wk_from ORDER BY wk_from
""",
    duck_sql="""
WITH wk AS (
  SELECT DISTINCT user_id,
         CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk
  FROM events
), pairs AS (
  SELECT a.wk AS wk_from, a.user_id,
         CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END AS churned
  FROM wk a LEFT JOIN wk b
    ON b.user_id = a.user_id AND b.wk = a.wk + 7
  WHERE a.wk < (SELECT max(wk) FROM wk)
)
SELECT wk_from, count(*) AS n_active,
       CAST(sum(churned) AS BIGINT) AS n_churned,
       round(sum(churned) / CAST(count(*) AS DOUBLE), 6) AS churn_rate
FROM pairs GROUP BY wk_from ORDER BY wk_from
""",
    tags=("streaming-batch", "stats"),
    notes="Week-over-week churn: of users active in week N, the fraction "
    "absent in week N+1 (final partial week excluded — no next week to "
    "churn into). Weeks are ISO-Monday calendar dates "
    "(trunc(date,'week') / date_trunc('week')), not bare weekofyear "
    "ordinals, so year boundaries neither conflate week N of different "
    "years nor break the adjacent-week join at the 52/53→1 wrap. One "
    "distinct (user, week) reduction + a user-keyed self left-join on "
    "next-calendar-week — the retention complement of cohort_retention's "
    "triangle.",
)


register_sql(
    "props_value_quartiles",
    spark_sql="""
WITH vals AS (
  SELECT event_type,
         CAST(get_json_object(props, '$.k') AS INT) AS k
  FROM events WHERE props IS NOT NULL
)
SELECT event_type, count(k) AS n,
       min(k) AS min_k,
       CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY k) AS INT)
         AS p25_k,
       CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY k) AS INT)
         AS p50_k,
       CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY k) AS INT)
         AS p75_k,
       max(k) AS max_k
FROM vals GROUP BY event_type ORDER BY event_type
""",
    duck_sql="""
WITH vals AS (
  SELECT event_type,
         CAST(json_extract(props, '$.k') AS INT) AS k
  FROM events WHERE props IS NOT NULL
)
SELECT event_type, count(k) AS n,
       min(k) AS min_k,
       CAST(quantile_disc(k, 0.25) AS INT) AS p25_k,
       CAST(quantile_disc(k, 0.5) AS INT) AS p50_k,
       CAST(quantile_disc(k, 0.75) AS INT) AS p75_k,
       max(k) AS max_k
FROM vals GROUP BY event_type ORDER BY event_type
""",
    tags=("streaming-batch", "json", "stats"),
    notes="Semi-structured property profiling: the JSON props column's "
    "numeric key extracted (get_json_object ≙ json_extract) and "
    "quartiled per event type — the schema-on-read exploration shape "
    "for instrumented payloads. JSON parse rides the scan; one "
    "type-keyed percentile aggregate.",
)


register_sql(
    "user_behavior_entropy",
    spark_sql="""
WITH cnt AS (
  SELECT user_id, event_type, count(*) AS c FROM events
  GROUP BY user_id, event_type
), tot AS (
  SELECT user_id, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY user_id
)
SELECT cnt.user_id, tot.n AS n_events,
       count(*) AS n_types,
       round(CAST(sum(CAST(
             -(cnt.c / CAST(tot.n AS DOUBLE))
               * ln(cnt.c / CAST(tot.n AS DOUBLE)) / ln(2.0)
             AS DECIMAL(38,10))) AS DOUBLE), 6) AS entropy_bits
FROM cnt JOIN tot ON tot.user_id = cnt.user_id
GROUP BY cnt.user_id, tot.n
ORDER BY cnt.user_id
""",
    duck_sql="""
WITH cnt AS (
  SELECT user_id, event_type, count(*) AS c FROM events
  GROUP BY user_id, event_type
), tot AS (
  SELECT user_id, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY user_id
)
SELECT cnt.user_id, tot.n AS n_events,
       count(*) AS n_types,
       round(CAST(sum(CAST(
             -(cnt.c / CAST(tot.n AS DOUBLE))
               * ln(cnt.c / CAST(tot.n AS DOUBLE)) / ln(2.0)
             AS DECIMAL(38,10))) AS DOUBLE), 6) AS entropy_bits
FROM cnt JOIN tot ON tot.user_id = cnt.user_id
GROUP BY cnt.user_id, tot.n
ORDER BY cnt.user_id
""",
    tags=("streaming-batch", "stats"),
    notes="Per-user behavioral diversity: Shannon entropy (bits) of each "
    "user's event-type distribution — 0 = single-behavior bots, "
    "log2(5) ≈ 2.32 = uniformly diverse — the bot/engagement-shape "
    "signal. Two user-keyed aggregates; decimal-sum over the ln terms "
    "per the unigram-LM precedent.",
)


register_sql(
    "funnel_by_hour",
    spark_sql="""
WITH v AS (
  SELECT hour(ts) AS hr, count(DISTINCT user_id) AS n_viewers
  FROM events WHERE event_type = 'view' GROUP BY hour(ts)
), p AS (
  SELECT hour(ts) AS hr, count(DISTINCT user_id) AS n_buyers
  FROM events WHERE event_type = 'purchase' GROUP BY hour(ts)
)
SELECT v.hr, v.n_viewers, coalesce(p.n_buyers, 0) AS n_buyers,
       round(coalesce(p.n_buyers, 0) / CAST(v.n_viewers AS DOUBLE), 6)
         AS buyer_viewer_ratio
FROM v LEFT JOIN p ON p.hr = v.hr
ORDER BY v.hr
""",
    duck_sql="""
WITH v AS (
  SELECT hour(CAST(ts AS TIMESTAMP)) AS hr,
         count(DISTINCT user_id) AS n_viewers
  FROM events WHERE event_type = 'view' GROUP BY 1
), p AS (
  SELECT hour(CAST(ts AS TIMESTAMP)) AS hr,
         count(DISTINCT user_id) AS n_buyers
  FROM events WHERE event_type = 'purchase' GROUP BY 1
)
SELECT CAST(v.hr AS INT) AS hr, v.n_viewers,
       coalesce(p.n_buyers, 0) AS n_buyers,
       round(coalesce(p.n_buyers, 0) / CAST(v.n_viewers AS DOUBLE), 6)
         AS buyer_viewer_ratio
FROM v LEFT JOIN p ON p.hr = v.hr
ORDER BY v.hr
""",
    tags=("streaming-batch", "stats"),
    notes="Hour-of-day conversion pattern: distinct viewers vs distinct "
    "buyers per hour with the ratio — when the audience actually "
    "converts (scheduling signal for placements and batch jobs). Two "
    "filtered distinct-count aggregates + a 24-row join.",
)


register_sql(
    "event_interarrival_burstiness",
    spark_sql="""
WITH gaps AS (
  SELECT CAST(unix_micros(ts) - lag(unix_micros(ts)) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE) AS g
  FROM events
), clean AS (SELECT g FROM gaps WHERE g IS NOT NULL)
SELECT count(*) AS n_gaps,
       round(CAST(sum(CAST(g AS DECIMAL(38,10))) AS DOUBLE)
             / count(*) / 1000000, 4) AS mean_gap_secs,
       round(
         sqrt(greatest(
           (CAST(sum(CAST(g * g AS DECIMAL(38,10))) AS DOUBLE)
            - CAST(sum(CAST(g AS DECIMAL(38,10))) AS DOUBLE)
              * CAST(sum(CAST(g AS DECIMAL(38,10))) AS DOUBLE)
              / count(*)) / count(*), 0.0))
         / (CAST(sum(CAST(g AS DECIMAL(38,10))) AS DOUBLE) / count(*)),
         6) AS cv,
       round(
         (sqrt(greatest(
            (CAST(sum(CAST(g * g AS DECIMAL(38,10))) AS DOUBLE)
             - CAST(sum(CAST(g AS DECIMAL(38,10))) AS DOUBLE)
               * CAST(sum(CAST(g AS DECIMAL(38,10))) AS DOUBLE)
               / count(*)) / count(*), 0.0))
          - CAST(sum(CAST(g AS DECIMAL(38,10))) AS DOUBLE) / count(*))
         / (sqrt(greatest(
            (CAST(sum(CAST(g * g AS DECIMAL(38,10))) AS DOUBLE)
             - CAST(sum(CAST(g AS DECIMAL(38,10))) AS DOUBLE)
               * CAST(sum(CAST(g AS DECIMAL(38,10))) AS DOUBLE)
               / count(*)) / count(*), 0.0))
            + CAST(sum(CAST(g AS DECIMAL(38,10))) AS DOUBLE) / count(*)),
         6) AS burstiness
FROM clean
""",
    duck_sql="""
WITH gaps AS (
  SELECT CAST(epoch_us(CAST(ts AS TIMESTAMP))
              - lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE) AS g
  FROM events
), clean AS (SELECT g FROM gaps WHERE g IS NOT NULL)
SELECT count(*) AS n_gaps,
       round(CAST(sum(CAST(g AS DECIMAL(38,10))) AS DOUBLE)
             / count(*) / 1000000, 4) AS mean_gap_secs,
       round(
         sqrt(greatest(
           (CAST(sum(CAST(g * g AS DECIMAL(38,10))) AS DOUBLE)
            - CAST(sum(CAST(g AS DECIMAL(38,10))) AS DOUBLE)
              * CAST(sum(CAST(g AS DECIMAL(38,10))) AS DOUBLE)
              / count(*)) / count(*), 0.0))
         / (CAST(sum(CAST(g AS DECIMAL(38,10))) AS DOUBLE) / count(*)),
         6) AS cv,
       round(
         (sqrt(greatest(
            (CAST(sum(CAST(g * g AS DECIMAL(38,10))) AS DOUBLE)
             - CAST(sum(CAST(g AS DECIMAL(38,10))) AS DOUBLE)
               * CAST(sum(CAST(g AS DECIMAL(38,10))) AS DOUBLE)
               / count(*)) / count(*), 0.0))
          - CAST(sum(CAST(g AS DECIMAL(38,10))) AS DOUBLE) / count(*))
         / (sqrt(greatest(
            (CAST(sum(CAST(g * g AS DECIMAL(38,10))) AS DOUBLE)
             - CAST(sum(CAST(g AS DECIMAL(38,10))) AS DOUBLE)
               * CAST(sum(CAST(g AS DECIMAL(38,10))) AS DOUBLE)
               / count(*)) / count(*), 0.0))
            + CAST(sum(CAST(g AS DECIMAL(38,10))) AS DOUBLE) / count(*)),
         6) AS burstiness
FROM clean
""",
    tags=("streaming-batch", "stats"),
    notes="Inter-arrival burstiness: coefficient of variation and the "
    "Goh-Barabási burstiness parameter B = (σ−μ)/(σ+μ) over per-user "
    "event gaps (B≈0 Poisson, B→1 heavy-tailed bursts, B→−1 periodic) "
    "— distinguishes organic traffic from schedulers and replay bots. "
    "Per-user lag windows; σ from the decimal two-moment identity.",
)


#: per-day exponential decay weights 0.5^(age/7) for ages 0..39 — plan-time
#: literals on both engines (fractional pow parity risk, RBO discipline).
_DECAY_GRID_SQL = "(0, 1.0), (1, 0.9057236642639067), (2, 0.820335356007638), (3, 0.7429971445684742), (4, 0.6729500963161781), (5, 0.6095068271022377), (6, 0.5520447568369062), (7, 0.5), (8, 0.45286183213195336), (9, 0.4101676780038189), (10, 0.3714985722842371), (11, 0.33647504815808904), (12, 0.3047534135511189), (13, 0.27602237841845306), (14, 0.25), (15, 0.22643091606597668), (16, 0.2050838390019095), (17, 0.18574928614211858), (18, 0.1682375240790445), (19, 0.15237670677555942), (20, 0.13801118920922653), (21, 0.125), (22, 0.11321545803298834), (23, 0.10254191950095475), (24, 0.09287464307105929), (25, 0.08411876203952225), (26, 0.07618835338777971), (27, 0.06900559460461327), (28, 0.0625), (29, 0.05660772901649415), (30, 0.05127095975047737), (31, 0.04643732153552963), (32, 0.04205938101976114), (33, 0.038094176693889856), (34, 0.03450279730230665), (35, 0.03125), (36, 0.028303864508247074), (37, 0.025635479875238686), (38, 0.023218660767764816), (39, 0.02102969050988057)"


register_sql(
    "trending_types_decayed",
    spark_sql=f"""
WITH mx AS (SELECT max(to_date(ts)) AS now_d FROM events),
toks AS (
  SELECT event_type AS token,
         datediff(mx.now_d, to_date(ts)) AS age_days
  FROM events CROSS JOIN mx
), counts AS (
  SELECT token, age_days, count(*) AS c FROM toks
  GROUP BY token, age_days
), grid (age_days, w) AS (VALUES {_DECAY_GRID_SQL}),
scored AS (
  SELECT counts.token,
         CAST(sum(CAST(counts.c AS BIGINT)) AS BIGINT) AS raw_count,
         round(CAST(sum(CAST(counts.c
                             * coalesce(CAST(grid.w AS DOUBLE), 0.0)
                             AS DECIMAL(38,10)))
                    AS DOUBLE), 6) AS decayed_score
  FROM counts LEFT JOIN grid ON grid.age_days = counts.age_days
  GROUP BY counts.token
)
SELECT token, raw_count, decayed_score,
       CAST(row_number() OVER (ORDER BY decayed_score DESC, token) AS INT)
         AS rank
FROM scored ORDER BY decayed_score DESC, token LIMIT 10
""",
    duck_sql=f"""
WITH mx AS (
  SELECT max(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE))
    AS now_d
  FROM events
), toks AS (
  SELECT event_type AS token,
         datediff('day',
                  CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE),
                  mx.now_d) AS age_days
  FROM events CROSS JOIN mx
), counts AS (
  SELECT token, age_days, count(*) AS c FROM toks
  GROUP BY token, age_days
), grid (age_days, w) AS (VALUES {_DECAY_GRID_SQL}),
scored AS (
  SELECT counts.token,
         CAST(sum(counts.c) AS BIGINT) AS raw_count,
         round(CAST(sum(CAST(counts.c
                             * coalesce(CAST(grid.w AS DOUBLE), 0.0)
                             AS DECIMAL(38,10))) AS DOUBLE), 6)
           AS decayed_score
  FROM counts LEFT JOIN grid ON grid.age_days = counts.age_days
  GROUP BY counts.token
)
SELECT token, raw_count, decayed_score,
       CAST(row_number() OVER (ORDER BY decayed_score DESC, token) AS INT)
         AS rank
FROM scored ORDER BY decayed_score DESC, token LIMIT 10
""",
    tags=("llmops", "streaming-batch", "stats"),
    notes="Time-decayed trending event types: half-life-7-day exponential "
    "decay on daily counts (decay factors for ages 0-39 inlined "
    "as literal doubles on both engines — the RBO/DFT literal-weights "
    "discipline; BOTH sides cast their DECIMAL-parsed literals back to "
    "DOUBLE before the product, so the per-term value rounded into the "
    "decimal grain is the same IEEE double — Spark's exact decimal "
    "product vs DuckDB's double product differed in ulps at production "
    "counts, r10 review), decimal-sum scores, top-10 — recency-weighted "
    "trend detection vs the raw-count ranking. Events older than the "
    "40-day grid horizon LEFT-join to weight 0 (0.5^(40/7) < 0.02): they "
    "still count in raw_count but no longer move the decayed score — the "
    "documented decay horizon, not a silent row drop.",
)


register_sql(
    "events_autocorrelation",
    spark_sql="""
WITH d AS (
  SELECT to_date(ts) AS day, count(*) AS c FROM events GROUP BY to_date(ts)
), m AS (
  SELECT CAST(sum(CAST(c AS DECIMAL(38,10))) AS DOUBLE) / count(*) AS mu
  FROM d
), dev AS (
  SELECT day, CAST(c AS DOUBLE) - m.mu AS e FROM d CROSS JOIN m
), den AS (
  SELECT CAST(sum(CAST(e * e AS DECIMAL(38,10))) AS DOUBLE) AS ss FROM dev
), ks (k) AS (VALUES (1), (2), (3), (4), (5), (6), (7)),
pairs AS (
  SELECT ks.k, a.e AS ea, b.e AS eb
  FROM ks CROSS JOIN dev a JOIN dev b ON b.day = date_add(a.day, ks.k)
)
SELECT p.k AS lag_days, count(*) AS n_pairs,
       round(CAST(sum(CAST(p.ea * p.eb AS DECIMAL(38,10))) AS DOUBLE)
             / den.ss, 6) AS acf
FROM pairs p CROSS JOIN den
GROUP BY p.k, den.ss
ORDER BY lag_days
""",
    duck_sql="""
WITH d AS (
  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
         count(*) AS c
  FROM events GROUP BY 1
), m AS (
  SELECT CAST(sum(CAST(c AS DECIMAL(38,10))) AS DOUBLE) / count(*) AS mu
  FROM d
), dev AS (
  SELECT day, CAST(c AS DOUBLE) - m.mu AS e FROM d CROSS JOIN m
), den AS (
  SELECT CAST(sum(CAST(e * e AS DECIMAL(38,10))) AS DOUBLE) AS ss FROM dev
), ks (k) AS (VALUES (1), (2), (3), (4), (5), (6), (7)),
pairs AS (
  SELECT ks.k, a.e AS ea, b.e AS eb
  FROM ks CROSS JOIN dev a JOIN dev b ON b.day = a.day + ks.k
)
SELECT p.k AS lag_days, count(*) AS n_pairs,
       round(CAST(sum(CAST(p.ea * p.eb AS DECIMAL(38,10))) AS DOUBLE)
             / den.ss, 6) AS acf
FROM pairs p CROSS JOIN den
GROUP BY p.k, den.ss
ORDER BY lag_days
""",
    tags=("streaming-batch", "stats"),
    notes="Sample autocorrelation of the daily event-count series at lags "
    "1-7 days — the weekly-seasonality detector complementing "
    "events_diurnal_spectrum's DFT (a strong lag-7 ACF says weekday "
    "patterning; near-zero says memoryless traffic). Everything runs on "
    "the day-aggregated series (|days| rows, never fact-cardinality): "
    "one count shuffle, then domain-sized self-joins against a 7-row lag "
    "grid. Deviation products are per-row IEEE doubles; the numerator/"
    "denominator sums use the decimal order-independence discipline.",
)


register_sql(
    "events_cusum_changepoint",
    spark_sql="""
WITH d AS (
  SELECT to_date(ts) AS day, count(*) AS c FROM events GROUP BY to_date(ts)
), m AS (
  SELECT CAST(sum(CAST(c AS DECIMAL(38,10))) AS DOUBLE) / count(*) AS mu,
         count(*) AS n
  FROM d
), s AS (
  SELECT day,
         CAST(sum(CAST(CAST(c AS DOUBLE) - m.mu AS DECIMAL(38,10))) OVER (
              ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS DOUBLE) AS cusum,
         m.n AS n_days
  FROM d CROSS JOIN m
), cp AS (
  SELECT day, cusum, n_days FROM s ORDER BY abs(cusum) DESC, day LIMIT 1
)
SELECT cp.day AS changepoint_day, round(cp.cusum, 5) AS cusum, cp.n_days,
       round(CAST(sum(CAST(c AS DECIMAL(38,10)))
                    FILTER (WHERE d.day <= cp.day) AS DOUBLE)
             / count(*) FILTER (WHERE d.day <= cp.day), 4) AS pre_mean,
       round(CAST(sum(CAST(c AS DECIMAL(38,10)))
                    FILTER (WHERE d.day > cp.day) AS DOUBLE)
             / count(*) FILTER (WHERE d.day > cp.day), 4) AS post_mean
FROM d CROSS JOIN cp
GROUP BY cp.day, cp.cusum, cp.n_days
""",
    duck_sql="""
WITH d AS (
  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
         count(*) AS c
  FROM events GROUP BY 1
), m AS (
  SELECT CAST(sum(CAST(c AS DECIMAL(38,10))) AS DOUBLE) / count(*) AS mu,
         count(*) AS n
  FROM d
), s AS (
  SELECT day,
         CAST(sum(CAST(CAST(c AS DOUBLE) - m.mu AS DECIMAL(38,10))) OVER (
              ORDER BY day
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS DOUBLE) AS cusum,
         m.n AS n_days
  FROM d CROSS JOIN m
), cp AS (
  SELECT day, cusum, n_days FROM s ORDER BY abs(cusum) DESC, day LIMIT 1
)
SELECT cp.day AS changepoint_day, round(cp.cusum, 5) AS cusum, cp.n_days,
       round(CAST(sum(CAST(c AS DECIMAL(38,10)))
                    FILTER (WHERE d.day <= cp.day) AS DOUBLE)
             / count(*) FILTER (WHERE d.day <= cp.day), 4) AS pre_mean,
       round(CAST(sum(CAST(c AS DECIMAL(38,10)))
                    FILTER (WHERE d.day > cp.day) AS DOUBLE)
             / count(*) FILTER (WHERE d.day > cp.day), 4) AS post_mean
FROM d CROSS JOIN cp
GROUP BY cp.day, cp.cusum, cp.n_days
""",
    tags=("streaming-batch", "stats"),
    notes="CUSUM changepoint scan over daily event counts: cumulative "
    "deviation from the global mean (decimal running sum in day order), "
    "the |CUSUM|-maximizing day as the level-shift candidate, and the "
    "pre/post mean split as the effect size — the corpus-ingest "
    "regression detector (did volume step-change, and when). Day-"
    "aggregated series only; the argmax is deterministic (tie → earliest "
    "day).",
)


register_sql(
    "events_psi_value_drift",
    spark_sql="""
WITH e AS (SELECT unix_micros(ts) AS t, value AS v FROM events),
b AS (
  SELECT min(t) AS t0, max(t) AS t1, min(v) AS v0, max(v) AS v1 FROM e
), binned AS (
  SELECT CASE WHEN e.t < (b.t0 + b.t1) / 2.0 THEN 0 ELSE 1 END AS half,
         least(CAST(floor((e.v - b.v0) / ((b.v1 - b.v0) / 10.0)) AS INT),
               9) AS bin
  FROM e CROSS JOIN b
), n AS (SELECT half, count(*) AS n FROM binned GROUP BY half),
c AS (SELECT half, bin, count(*) AS c FROM binned GROUP BY half, bin),
bins (bin) AS (
  VALUES (0), (1), (2), (3), (4), (5), (6), (7), (8), (9)
), p AS (
  SELECT bins.bin,
         (coalesce(c0.c, 0) + CAST(0.5 AS DOUBLE))
           / (n0.n + CAST(5.0 AS DOUBLE)) AS p0,
         (coalesce(c1.c, 0) + CAST(0.5 AS DOUBLE))
           / (n1.n + CAST(5.0 AS DOUBLE)) AS p1
  FROM bins
  LEFT JOIN c c0 ON c0.bin = bins.bin AND c0.half = 0
  LEFT JOIN c c1 ON c1.bin = bins.bin AND c1.half = 1
  CROSS JOIN (SELECT n FROM n WHERE half = 0) n0
  CROSS JOIN (SELECT n FROM n WHERE half = 1) n1
)
SELECT bin, round(p0, 6) AS p_first, round(p1, 6) AS p_second,
       round((p1 - p0) * ln(p1 / p0), 8) AS psi_term
FROM p ORDER BY bin
""",
    duck_sql="""
WITH e AS (
  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS t, value AS v FROM events
), b AS (
  SELECT min(t) AS t0, max(t) AS t1, min(v) AS v0, max(v) AS v1 FROM e
), binned AS (
  SELECT CASE WHEN e.t < (b.t0 + b.t1) / 2.0 THEN 0 ELSE 1 END AS half,
         least(CAST(floor((e.v - b.v0) / ((b.v1 - b.v0) / 10.0)) AS INT),
               9) AS bin
  FROM e CROSS JOIN b
), n AS (SELECT half, count(*) AS n FROM binned GROUP BY half),
c AS (SELECT half, bin, count(*) AS c FROM binned GROUP BY half, bin),
bins (bin) AS (
  VALUES (0), (1), (2), (3), (4), (5), (6), (7), (8), (9)
), p AS (
  SELECT bins.bin,
         (coalesce(c0.c, 0) + CAST(0.5 AS DOUBLE))
           / (n0.n + CAST(5.0 AS DOUBLE)) AS p0,
         (coalesce(c1.c, 0) + CAST(0.5 AS DOUBLE))
           / (n1.n + CAST(5.0 AS DOUBLE)) AS p1
  FROM bins
  LEFT JOIN c c0 ON c0.bin = bins.bin AND c0.half = 0
  LEFT JOIN c c1 ON c1.bin = bins.bin AND c1.half = 1
  CROSS JOIN (SELECT n FROM n WHERE half = 0) n0
  CROSS JOIN (SELECT n FROM n WHERE half = 1) n1
)
SELECT bin, round(p0, 6) AS p_first, round(p1, 6) AS p_second,
       round((p1 - p0) * ln(p1 / p0), 8) AS psi_term
FROM p ORDER BY bin
""",
    tags=("streaming-batch", "stats", "llmops"),
    notes="Population Stability Index between the first and second time "
    "half of the events value distribution: 10 equal-width bins over the "
    "global range, Laplace-smoothed (+0.5/+5) shares so empty bins stay "
    "finite, per-bin PSI contribution (p2−p1)·ln(p2/p1) — Σ bins is the "
    "PSI; <0.1 stable, >0.25 action. The standard inter-snapshot drift "
    "gate next to the KS (shape) and chi-square (token) entries. Two "
    "fact scans (bounds, then binning) collapsing to tiny bin tables; "
    "the per-bin terms are single IEEE expressions — no order-dependent "
    "float sum anywhere.",
)


register_sql(
    "events_burst_runs",
    spark_sql="""
WITH d AS (
  SELECT to_date(ts) AS day, count(*) AS c FROM events GROUP BY to_date(ts)
), med AS (
  SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY c) AS m FROM d
), f AS (
  SELECT d.day, d.c FROM d CROSS JOIN med WHERE d.c > med.m
), mn AS (SELECT min(day) AS d0 FROM d),
g AS (
  SELECT f.day, f.c,
         datediff(f.day, mn.d0)
         - row_number() OVER (ORDER BY f.day) AS grp
  FROM f CROSS JOIN mn
)
SELECT min(day) AS start_day, max(day) AS end_day,
       count(*) AS n_days,
       CAST(sum(c) AS BIGINT) AS total_events,
       max(c) AS peak_daily
FROM g GROUP BY grp
ORDER BY n_days DESC, start_day
LIMIT 10
""",
    duck_sql="""
WITH d AS (
  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
         count(*) AS c
  FROM events GROUP BY 1
), med AS (
  SELECT percentile_disc(0.5) WITHIN GROUP (ORDER BY c) AS m FROM d
), f AS (
  SELECT d.day, d.c FROM d CROSS JOIN med WHERE d.c > med.m
), mn AS (SELECT min(day) AS d0 FROM d),
g AS (
  SELECT f.day, f.c,
         datediff('day', mn.d0, f.day)
         - row_number() OVER (ORDER BY f.day) AS grp
  FROM f CROSS JOIN mn
)
SELECT min(day) AS start_day, max(day) AS end_day,
       count(*) AS n_days,
       CAST(sum(c) AS BIGINT) AS total_events,
       max(c) AS peak_daily
FROM g GROUP BY grp
ORDER BY n_days DESC, start_day
LIMIT 10
""",
    tags=("streaming-batch", "stats"),
    notes="Above-median burst runs (gaps-and-islands): consecutive "
    "CALENDAR days with volume strictly above the daily median, grouped "
    "by the day-index-minus-row-number trick — a missing or quiet "
    "calendar day breaks the run because the index uses real dates, not "
    "dense row positions. Longest-first top-10 with start/end/total/"
    "peak — the sustained-surge report complementing "
    "events_cusum_changepoint's single level-shift.",
)
