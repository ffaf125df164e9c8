"""Structured Streaming pipelines: batch-equivalence on bounded replay
(SURVEY.md §5 — streaming has no DuckDB oracle, so the batch twin is the
oracle)."""

import pytest
from pyspark.sql import functions as F

from aws_cli_data_pipeline_tools_spark import streaming
from aws_cli_data_pipeline_tools_spark.sources import load_table


@pytest.fixture(scope="module")
def events_stream(spark, sf_dir, tmp_path_factory):
    scratch = str(tmp_path_factory.mktemp("stream"))
    return streaming.events_file_stream(spark, sf_dir, scratch)


def _collect_stream(spark, stream_df, name, mode="append"):
    streaming.run_to_memory(stream_df, name, output_mode=mode)
    return spark.table(name)


def test_tumbling_stream_equals_batch(spark, sf_dir, events_stream):
    got = _collect_stream(
        spark, streaming.tumbling_counts(events_stream), "t_tumble", mode="complete"
    )
    batch = (
        load_table(spark, "events", sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    got_set = {(r.win_start, r.event_type, r.n_events) for r in got.collect()}
    want_set = {(r.win.start, r.event_type, r.n_events) for r in batch.collect()}
    assert got_set == want_set


def test_session_stream_covers_all_events(spark, sf_dir, events_stream):
    got = _collect_stream(
        spark, streaming.session_counts(events_stream), "t_sess", mode="complete"
    )
    total_events = got.agg(F.sum("n_events")).collect()[0][0]
    assert total_events == load_table(spark, "events", sf_dir).count()
    r = got.collect()[0]
    assert r.session_end >= r.session_start


def test_dedup_stream_equals_batch_distinct(spark, sf_dir, events_stream):
    got = _collect_stream(spark, streaming.dedup_stream(events_stream), "t_dedup")
    n_keys = (
        load_table(spark, "events", sf_dir)
        .select("user_id", "event_type")
        .distinct()
        .count()
    )
    assert got.count() == n_keys
    assert got.select("user_id", "event_type").distinct().count() == n_keys


def test_stream_stream_join_equals_binned_batch(spark, sf_dir, events_stream):
    from aws_cli_data_pipeline_tools_spark.operators.rangejoin import (
        point_in_interval_join,
    )

    got = _collect_stream(
        spark,
        streaming.error_click_join_stream(events_stream, window="6 hours"),
        "t_ssjoin",
    )
    ev = load_table(spark, "events", sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("err_start"),
        (F.col("ts") + F.expr("INTERVAL 6 HOURS")).alias("err_end"),
    )
    batch = point_in_interval_join(
        clicks, errors, "click_ts", "err_start", "err_end",
        bin_width=3600, keys=("user_id",),
    )
    g = {(r.error_id, r.click_id) for r in got.collect()}
    b = {(r.error_id, r.click_id) for r in batch.collect()}
    assert g == b and len(g) > 0


def test_checkpoint_resume_exactly_once(spark, sf_dir, tmp_path):
    """Kill-and-resume semantics of the file source + file sink: a second
    availableNow run over the same checkpoint must process ONLY files added
    after the first drain — no lost and no duplicated events."""
    import os

    ev = load_table(spark, "events", sf_dir).select("event_id", "user_id", "value")
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    h1 = ev.filter(F.col("event_id") % 2 == 0)
    h2 = ev.filter(F.col("event_id") % 2 == 1)
    h1.write.parquet(src)

    def drain():
        q = (
            spark.readStream.schema(ev.schema)
            .parquet(src)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    n1 = spark.read.parquet(out).count()
    assert n1 == h1.count()

    h2.write.mode("append").parquet(src)  # late-arriving files
    drain()  # resume from the same checkpoint
    got = spark.read.parquet(out)
    assert got.count() == ev.count()  # nothing lost
    assert got.select("event_id").distinct().count() == ev.count()  # no dups


def test_foreachbatch_upsert_latest_wins(spark, sf_dir, tmp_path):
    """foreachBatch keyed upsert: stream events in two file drops; the
    final table must hold exactly the latest row per (user_id, event_type),
    matching the batch keep-latest answer."""
    from aws_cli_data_pipeline_tools_spark.streaming.sinks import (
        run_upsert_to_parquet,
    )

    ev = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    src = str(tmp_path / "src")
    out = str(tmp_path / "upserted")
    ckpt = str(tmp_path / "ckpt")
    h1 = ev.filter(F.col("event_id") % 2 == 0)
    h2 = ev.filter(F.col("event_id") % 2 == 1)
    h1.write.parquet(src)

    def drain():
        stream = spark.readStream.schema(ev.schema).parquet(src)
        run_upsert_to_parquet(
            stream, out, ckpt, ["user_id", "event_type"], "ts"
        )

    drain()
    h2.write.mode("append").parquet(src)
    drain()

    got = spark.read.parquet(out)
    # one row per key
    assert got.groupBy("user_id", "event_type").count().filter("count > 1").count() == 0
    # equals batch keep-latest (ts desc, unique per fixture key+ts)
    from pyspark.sql import Window
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    want = ev.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")
    g = {(r.user_id, r.event_type): r.event_id for r in got.collect()}
    wnt = {(r.user_id, r.event_type): r.event_id for r in want.collect()}
    # ties (same key+ts) can pick either event; compare ts instead for those
    gt = {(r.user_id, r.event_type): r.ts for r in got.collect()}
    wt = {(r.user_id, r.event_type): r.ts for r in want.collect()}
    assert gt == wt and len(g) == len(wnt)


def test_quality_gate_quarantines_bad_batches(spark, tmp_path):
    import json

    from aws_cli_data_pipeline_tools_spark.operators import quality as Q
    from aws_cli_data_pipeline_tools_spark.operators.quality import in_range
    from aws_cli_data_pipeline_tools_spark.streaming.quality_gate import (
        gated_parquet_sink,
    )

    src = tmp_path / "src"
    src.mkdir()
    # batch files arrive one per micro-batch (maxFilesPerTrigger=1)
    spark.createDataFrame([(1, 5.0), (2, 7.0)], "k int, v double").coalesce(
        1
    ).write.parquet(str(src / "f0"))
    spark.createDataFrame([(3, -1.0), (3, 2.0)], "k int, v double").coalesce(
        1
    ).write.parquet(str(src / "f1"))

    stream = (
        spark.readStream.schema("k int, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = gated_parquet_sink(
        stream,
        [Q.unique("k"), Q.in_range("v", 0, 100)],
        good_dir=str(tmp_path / "good"),
        quarantine_dir=str(tmp_path / "quarantine"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    good = spark.read.parquet(str(tmp_path / "good"))
    bad = spark.read.parquet(str(tmp_path / "quarantine"))
    assert {r.k for r in good.collect()} == {1, 2}
    assert {r.k for r in bad.collect()} == {3}  # dup key + out-of-range v
    reports = list((tmp_path / "quarantine").glob("_report_*.json"))
    assert len(reports) == 1
    rep = json.loads(reports[0].read_text())
    failed = {r["rule"] for r in rep if not r["passed"]}
    assert failed == {"unique", "in_range"}

    # Replay safety: wipe the checkpoint so the same source replays with the
    # same batch ids — per-batch_id overwrite must not duplicate any rows.
    import shutil

    shutil.rmtree(str(tmp_path / "ckpt"))
    q2 = gated_parquet_sink(
        stream,
        [Q.unique("k"), Q.in_range("v", 0, 100)],
        good_dir=str(tmp_path / "good"),
        quarantine_dir=str(tmp_path / "quarantine"),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "good")).count() == 2
    assert spark.read.parquet(str(tmp_path / "quarantine")).count() == 2


def test_stream_stream_left_outer_join_eventual_semantics(spark, sf_dir):
    """Left-outer stream-stream interval join: matched rows must equal
    the batch inner join EXACTLY; null-padded rows for unmatched errors
    are EVENTUAL — one emits only once the watermark provably passes its
    join window, so in a bounded replay the emitted set must (a) contain
    every unmatched error whose window closed at least one full
    watermark before the data ends (guaranteed region), (b) contain
    ONLY unmatched errors (never a false null row), and (c) exclude
    errors inside the final watermark+window tail. These bounds hold for
    ANY micro-batch split; the single-file availableNow replay is
    additionally deterministic (one data batch + one no-data batch), and
    the ``streaming_join_outer_live`` catalog entry oracle-checks that
    exact closure (VERDICT r8 task 4) — this test keeps the
    split-independent envelope covered."""
    import uuid

    from aws_cli_data_pipeline_tools_spark import streaming as st

    stream = st.events_file_stream(spark, sf_dir)
    joined = st.error_click_join_stream(
        stream, window="6 hours", watermark="12 hours", how="leftOuter"
    )
    name = f"q_outer_{uuid.uuid4().hex[:8]}"
    st.run_to_memory(joined, name, output_mode="append", shuffle_partitions=8)
    out = spark.table(name)

    events = load_table(spark, "events", sf_dir)
    errors = events.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("user_id"),
        F.col("ts").alias("err_ts"),
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    batch_matched = errors.join(
        clicks,
        (errors["user_id"] == clicks["user_id"])
        & (F.col("click_ts") >= F.col("err_ts"))
        & (F.col("click_ts") < F.col("err_ts") + F.expr("INTERVAL 6 HOURS")),
    )
    want_pairs = {
        (r["error_id"], r["click_id"]) for r in batch_matched.collect()
    }
    got_pairs = {
        (r["error_id"], r["click_id"])
        for r in out.filter(F.col("click_id").isNotNull()).collect()
    }
    assert got_pairs == want_pairs  # inner part is batch-exact

    max_ts = events.agg(F.max("ts")).collect()[0][0]
    unmatched = {
        r["error_id"]
        for r in errors.join(
            batch_matched.select("error_id").distinct(), "error_id",
            "left_anti",
        ).collect()
    }
    got_nulls = {
        r["error_id"]: r["err_ts"]
        for r in out.filter(F.col("click_id").isNull()).collect()
    }
    # (b) only genuinely unmatched errors ever get a null row
    assert set(got_nulls) <= unmatched
    import datetime

    guaranteed = max_ts - datetime.timedelta(hours=12 + 6 + 6)  # 1 batch slack
    tail = max_ts - datetime.timedelta(hours=12 + 6)
    err_ts_by_id = {r["error_id"]: r["err_ts"] for r in errors.collect()}
    missing_in_guaranteed = {
        e for e in unmatched
        if err_ts_by_id[e] < guaranteed and e not in got_nulls
    }
    # (a) the guaranteed region must be fully emitted (1 batch of slack)
    assert not missing_in_guaranteed
    # (c) nothing inside the final watermark+window tail can have emitted
    assert all(ts <= tail for ts in got_nulls.values())


def test_upsert_swap_crash_recovery(spark, tmp_path):
    """r8 review: a crash between the swap's two renames left the
    committed table at .old — the next call used to merge the batch
    against NOTHING (silently dropping every prior key), and a leftover
    .old made the next swap's rename raise ENOTEMPTY."""
    import os

    from aws_cli_data_pipeline_tools_spark.streaming.sinks import (
        upsert_batch,
    )

    path = str(tmp_path / "t")
    b1 = spark.createDataFrame(
        [(1, 10, "a"), (2, 10, "b")], "k int, v int, p string"
    )
    upsert_batch(spark, b1, path, ["k"], "v")
    # crash window 1: died after os.rename(path, old), before swap-in
    os.rename(path, path + ".old")
    b2 = spark.createDataFrame([(2, 20, "c")], "k int, v int, p string")
    upsert_batch(spark, b2, path, ["k"], "v")
    got = {r.k: (r.v, r.p) for r in spark.read.parquet(path).collect()}
    assert got == {1: (10, "a"), 2: (20, "c")}  # key 1 survived the crash
    assert not os.path.isdir(path + ".old")
    # crash window 2: died after swap-in, before .old cleanup — the
    # stale non-empty .old must not fail the next swap's rename
    os.makedirs(path + ".old")
    with open(path + ".old/junk", "w") as f:
        f.write("stale")
    b3 = spark.createDataFrame([(3, 30, "d")], "k int, v int, p string")
    upsert_batch(spark, b3, path, ["k"], "v")
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: 10, 2: 20, 3: 30}
    assert not os.path.isdir(path + ".old")


def test_upsert_order_tie_breaks_deterministically(spark):
    """r8 review: ties on order_col must resolve identically on every
    (re)run — row_number over a non-total order let a checkpoint-recovery
    replay pick a different winner. The winner is the max content-hash
    row, a pure function of the data."""
    from aws_cli_data_pipeline_tools_spark.streaming.sinks import (
        _latest_per_key,
    )

    rows = [(1, 5, "x"), (1, 5, "y"), (1, 4, "newer-loses")]
    df = spark.createDataFrame(rows, "k int, v int, p string")
    picks = set()
    for n_parts in (1, 3, 7):  # different physical orders, same answer
        got = _latest_per_key(df.repartition(n_parts), ["k"], "v").collect()
        assert len(got) == 1
        picks.add(got[0].p)
    assert len(picks) == 1
    hashed = df.filter("v = 5").select(
        "p", F.xxhash64("k", "v", "p").alias("h")
    ).collect()
    assert picks == {max(hashed, key=lambda r: r.h).p}


def test_stream_stream_right_full_outer_boundary_r10(spark, tmp_path):
    """VERDICT r9 task 4: rightOuter/fullOuter closure boundaries on a
    synthetic micro-fixture. wm = min(max err_ts, max click_ts) - 12h =
    t0+20h. The unmatched click strictly below wm (t0+19h) null-emits;
    the click exactly AT wm holds state (STRICT < boundary — asymmetric
    with the error side's inclusive err_ts + 6h <= wm closure); the
    click past wm holds; wm itself is the MILLISECOND-floored branch
    max minus the delay (Spark tracks max event time in ms), so a click
    inside the sub-ms gap between floor_ms(wm) and the exact-us wm also
    holds. The lone error's window end (t0+46h) is past
    wm, so fullOuter emits no null-click row either. Also: invalid
    ``how`` fails loudly at the call site."""
    import datetime as dt
    import os
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from aws_cli_data_pipeline_tools_spark import streaming as st

    t0 = dt.datetime(2024, 1, 1)
    H = dt.timedelta(hours=1)
    US = dt.timedelta(microseconds=1)
    rows = [
        (1, t0 + 40 * H, 7, "error", 1.0, None),
        (2, t0 + 19 * H, 7, "click", 1.0, None),  # strictly below wm
        (4, t0 + 20 * H, 7, "click", 1.0, None),  # exactly at wm
        # in the sub-ms gap between floor_ms(wm) and the exact-us wm:
        # Spark tracks max event time in MILLISECONDS, so the live
        # watermark is t0+20h (floored), not t0+20h+500us - this click
        # must HOLD even though it is below the exact-us wm (r10 review)
        (6, t0 + 20 * H + 250 * US, 7, "click", 1.0, None),
        (3, t0 + 32 * H + 500 * US, 7, "click", 1.0, None),  # max click_ts
    ]
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    sf = str(tmp_path / "synth")
    os.makedirs(sf, exist_ok=True)
    pq.write_table(tbl, os.path.join(sf, "events.parquet"))

    emitted = {}
    for how in ("rightOuter", "fullOuter"):
        stream = st.events_file_stream(spark, sf)
        joined = st.error_click_join_stream(
            stream, window="6 hours", watermark="12 hours", how=how
        )
        name = f"q_boundary_{uuid.uuid4().hex[:8]}"
        st.run_to_memory(joined, name, output_mode="append",
                         shuffle_partitions=4)
        emitted[how] = {
            (r["error_id"], r["click_id"])
            for r in spark.table(name).collect()
        }
    # only the strictly-below-wm click emits its null-error row; the
    # at-wm and past-wm clicks hold; the error holds on both hows
    assert emitted["rightOuter"] == {(None, 2)}
    assert emitted["fullOuter"] == {(None, 2)}

    with pytest.raises(ValueError, match="not in"):
        st.error_click_join_stream(
            st.events_file_stream(spark, sf), how="left_outer"
        )


def test_quality_gate_eager_rules_and_flip_cleanup_r10(spark, tmp_path):
    """r10 review: (a) empty/typo'd rule sets fail loudly at the call
    site, not as a StreamingQueryException from the first micro-batch;
    (b) a checkpoint-reset replay whose verdict FLIPS removes the stale
    copy from the other directory (and a stale report on pass->...)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aws_cli_data_pipeline_tools_spark.operators.quality import in_range
    from aws_cli_data_pipeline_tools_spark.streaming.quality_gate import (
        gated_parquet_sink,
    )

    src = str(tmp_path / "src")
    import os

    os.makedirs(src, exist_ok=True)
    pq.write_table(
        pa.table({"k": pa.array([1, 2], pa.int64())}),
        os.path.join(src, "f0.parquet"),
    )
    schema = "k bigint"
    stream = spark.readStream.schema(schema).parquet(src)

    with pytest.raises(ValueError, match="non-empty"):
        gated_parquet_sink(stream, [], "g", "q", "c")
    with pytest.raises(ValueError, match="unknown rule kind"):
        gated_parquet_sink(stream, [{"rule": "not_nul", "column": "k"}],
                           "g", "q", "c")

    good, quar = str(tmp_path / "good"), str(tmp_path / "quar")
    # run 1: lax rule -> batch passes into good_dir
    q1 = gated_parquet_sink(
        spark.readStream.schema(schema).parquet(src),
        [in_range("k", 0, 10)],
        good, quar, str(tmp_path / "ckpt1"),
    )
    q1.awaitTermination(120)
    assert spark.read.parquet(good).count() == 2
    # run 2: fresh checkpoint + strict rule -> same batch now FAILS;
    # the stale good_dir copy must be removed, not left beside the
    # quarantined one
    q2 = gated_parquet_sink(
        spark.readStream.schema(schema).parquet(src),
        [in_range("k", 0, 1)],
        good, quar, str(tmp_path / "ckpt2"),
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(quar).count() == 2
    import glob as g

    assert not g.glob(os.path.join(good, "batch_id=*")), (
        "flipped verdict left the stale batch in good_dir"
    )
    assert g.glob(os.path.join(quar, "_report_*.json"))


def test_streaming_entry_leaves_no_temp_view(spark, sf_dir):
    """A catalog streaming entry drops its memory-sink view; the frame it
    returns still reads the drained rows."""
    from aws_cli_data_pipeline_tools_spark.catalog import all_specs

    def temp_views():
        return sum(1 for t in spark.catalog.listTables() if t.isTemporary)

    before = temp_views()
    out = all_specs()["streaming_tumbling_live"].fn(spark, sf_dir)
    assert temp_views() == before
    want = (
        load_table(spark, "events", sf_dir)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .count()
        .count()
    )
    assert out.count() == want > 0
