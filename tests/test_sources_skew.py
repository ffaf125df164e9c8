"""Source/sink round-trips (parquet/csv/json/orc, partitioned writes),
skew-salting operators, the ``fan_out`` parallelism floor with its
scan-width memo, and the parquet schema memo under ``load_table``."""

import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from aws_cli_data_pipeline_tools_spark import plans
from aws_cli_data_pipeline_tools_spark.operators import skew
from aws_cli_data_pipeline_tools_spark.sources import (
    fan_out,
    load_table,
    read_parquet,
    reader,
    register_views,
    write,
)


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv"])
def test_roundtrip_formats(spark, sf_dir, tmp_path, fmt):
    src = load_table(spark, "nation", sf_dir)
    path = str(tmp_path / f"nation_{fmt}")
    opts = {"header": "true"} if fmt == "csv" else {}
    write(src, path, fmt=fmt, **opts)
    r = reader(spark, fmt)
    if fmt in ("json", "csv"):
        r = r.schema(src.schema)  # schema-on-read: no inference in engine paths
    for k, v in opts.items():
        r = r.option(k, v)
    back = r.load(path)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_csv_header_written(spark, sf_dir, tmp_path):
    src = load_table(spark, "region", sf_dir)
    path = str(tmp_path / "region_csv")
    write(src, path, fmt="csv", header="true")
    files = [f for f in os.listdir(path) if f.startswith("part-")]
    with open(os.path.join(path, files[0])) as fh:
        assert fh.readline().strip() == "r_regionkey,r_name"


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    """Hive-style partitioned sink → reading one partition scans only it
    (PartitionFilters, the 100 TB time/tenant-key layout)."""
    src = load_table(spark, "orders", sf_dir).withColumn(
        "order_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year")
    write(src, path, partition_by=["order_year"])
    years = sorted(os.listdir(path))
    assert any(y.startswith("order_year=") for y in years)

    one_year = spark.read.parquet(path).filter(F.col("order_year") == 1995)
    plan = plans.executed_plan(one_year)
    assert "PartitionFilters: [isnotnull(order_year" in plan
    got = one_year.count()
    want = src.filter(F.col("order_year") == 1995).count()
    assert got == want > 0


def test_salted_count_sum_matches_direct(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir).withColumn(
        "qty_dec", F.col("l_quantity").cast("decimal(18,2)")
    )
    direct = {
        (r.l_returnflag,): (r.n, r.s)
        for r in li.groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), F.sum("qty_dec").alias("s"))
        .collect()
    }
    salted = {
        (r.l_returnflag,): (r.n_rows, r.sum_qty_dec)
        for r in skew.salted_count_sum(li, ["l_returnflag"], ["qty_dec"], salts=8).collect()
    }
    assert salted == direct


def test_salted_join_matches_direct(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_quantity")
    orders = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    direct = li.join(orders, "l_orderkey").count()
    salted = skew.salted_join(li, orders, on="l_orderkey", salts=4).count()
    assert salted == direct


def test_salted_join_rejects_replicating_join_types(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    for how in ("right", "full", "full_outer", "right_outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            skew.salted_join(li, orders, on="l_orderkey", how=how)


_SPARK_AVRO_JAR = any(
    "spark-avro" in os.path.basename(j)
    for j in __import__("glob").glob(
        os.path.join(os.path.dirname(__import__("pyspark").__file__), "jars", "*.jar")
    )
)


@pytest.mark.skipif(
    not _SPARK_AVRO_JAR,
    reason="spark-avro datasource jar absent in this offline environment "
    "(documented SURVEY.md §8); reader()/write() are format-generic and "
    "take fmt='avro' unchanged once the jar is on the classpath",
)
def test_roundtrip_avro(spark, sf_dir, tmp_path):
    src = load_table(spark, "nation", sf_dir)
    path = str(tmp_path / "nation_avro")
    write(src, path, fmt="avro")
    back = reader(spark, "avro").load(path)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))


def test_sql_ctas_and_insert_into(spark, sf_dir, tmp_path):
    """The reference's CTAS path through the SQL surface itself (SURVEY §2.B
    sinks; aws-athena.sh delegates CTAS/INSERT to Athena SQL). CREATE TABLE AS
    with hive-style partitioning, INSERT INTO appends, partition-pruned
    read-back."""
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("orders_src")
    spark.sql("DROP TABLE IF EXISTS orders_ctas")
    spark.sql(
        f"""
        CREATE TABLE orders_ctas
        USING parquet
        LOCATION '{tmp_path / "orders_ctas"}'
        PARTITIONED BY (order_year)
        AS SELECT o_orderkey, o_totalprice, o_orderstatus,
                  year(o_orderdate) AS order_year
        FROM orders_src WHERE o_orderstatus = 'F'
        """
    )
    base = spark.sql("SELECT count(*) AS n FROM orders_ctas").collect()[0].n
    assert base > 0

    spark.sql(
        """
        INSERT INTO orders_ctas
        SELECT o_orderkey, o_totalprice, o_orderstatus,
               year(o_orderdate) AS order_year
        FROM orders_src WHERE o_orderstatus = 'O'
        """
    )
    total = spark.sql("SELECT count(*) AS n FROM orders_ctas").collect()[0].n
    want = spark.sql(
        "SELECT count(*) AS n FROM orders_src WHERE o_orderstatus IN ('F','O')"
    ).collect()[0].n
    assert total == want > base

    one_year = spark.sql("SELECT * FROM orders_ctas WHERE order_year = 1995")
    plan = plans.executed_plan(one_year)
    assert "PartitionFilters: [isnotnull(order_year" in plan
    assert one_year.count() > 0

    # INSERT OVERWRITE a single partition replaces only that partition
    spark.sql(
        """
        INSERT OVERWRITE orders_ctas PARTITION (order_year = 1995)
        SELECT o_orderkey, o_totalprice, o_orderstatus
        FROM orders_src WHERE o_orderstatus = 'F' AND year(o_orderdate) = 1995
        """
    )
    after = spark.sql("SELECT count(*) AS n FROM orders_ctas").collect()[0].n
    only_f_1995 = spark.sql(
        """SELECT count(*) AS n FROM orders_src
           WHERE o_orderstatus = 'F' AND year(o_orderdate) = 1995"""
    ).collect()[0].n
    rest = spark.sql(
        "SELECT count(*) AS n FROM orders_ctas WHERE order_year <> 1995"
    ).collect()[0].n
    assert after == rest + only_f_1995
    spark.sql("DROP TABLE IF EXISTS orders_ctas")


def test_avro_fallback_roundtrip(spark, tmp_path):
    """Pure-Python Avro container write/read (no spark-avro jar): every
    supported type must survive the byte round-trip exactly, including
    NULLs through [null, T] unions and timestamps via timestamp-micros."""
    import datetime

    from aws_cli_data_pipeline_tools_spark.sources.avro_fallback import (
        read_avro, write_avro,
    )

    rows = [
        (1, "alpha", 1.5, True, bytearray(b"\x00\xff"),
         datetime.datetime(2024, 1, 15, 12, 30, 45, 123456)),
        (2, None, -0.25, None, bytearray(b""), None),
        (3, "héllo ünïcode", 2.0**-40, False, bytearray(b"abc"),
         datetime.datetime(1969, 12, 31, 23, 59, 59)),
    ]
    df = spark.createDataFrame(
        rows,
        "k bigint, s string, d double, b boolean, raw binary, ts timestamp",
    ).repartition(2)
    path = str(tmp_path / "avro_out")
    n_files = write_avro(df, path)
    assert 1 <= n_files <= 2
    back = read_avro(spark, path)
    got = sorted(
        (tuple(r) for r in back.collect()), key=lambda t: t[0]
    )
    want = sorted(
        (tuple(r) for r in df.collect()), key=lambda t: t[0]
    )
    assert got == want
    # unsupported type → clear error pointing at the jar path
    import pytest as _pytest

    arr = spark.createDataFrame([(1, [1, 2])], "k bigint, a array<bigint>")
    with _pytest.raises(ValueError, match="avro fallback"):
        write_avro(arr, str(tmp_path / "nope"))


def test_write_jsonl_shards_roundtrip_and_caps(spark, tmp_path, sf_dir):
    """The JSONL shard writer must (a) reproduce the corpus exactly on
    read-back, (b) respect the byte budget on every file (no-overflow
    rule; a single over-budget document is the only exception), and
    (c) produce a manifest that matches the files on disk."""
    import glob
    import os

    from aws_cli_data_pipeline_tools_spark.sources.export import (
        write_jsonl_shards,
    )

    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    out = str(tmp_path / "shards")
    budget = 16384
    manifest = write_jsonl_shards(
        docs, out, budget_bytes=budget, n_buckets=4
    ).collect()
    assert len(manifest) > 4  # multiple shards per bucket at this budget

    files = sorted(glob.glob(f"{out}/bucket=*/shard-*.jsonl"))
    assert sorted(r["file"] for r in manifest) == files
    for r in manifest:
        size = os.path.getsize(r["file"])
        assert size == r["n_bytes"]
        assert size <= budget or r["n_docs"] == 1  # no-overflow rule
    # read-back: the shards ARE the corpus
    back = spark.read.json(f"{out}/bucket=*/shard-*.jsonl")
    got = {(r["doc_id"], r["text"]) for r in back.collect()}
    want = {(r["doc_id"], r["text"]) for r in docs.collect()}
    assert got == want


def test_avro_fallback_python_datasource(spark, tmp_path):
    """The Spark 4 Python DataSource route (spark.read.format(
    'avro_fallback')) must return exactly what write_avro wrote, with
    one input partition per container file."""
    import datetime

    from aws_cli_data_pipeline_tools_spark.sources.avro_fallback import (
        write_avro,
    )
    from aws_cli_data_pipeline_tools_spark.sources.pyds import (
        register_avro_fallback,
    )

    rows = [
        (1, "alpha", 1.5, datetime.datetime(2024, 1, 15, 12, 30, 45)),
        (2, None, -0.25, None),
        (3, "gamma", 0.0, datetime.datetime(1970, 1, 1)),
    ]
    df = spark.createDataFrame(
        rows, "k bigint, s string, d double, ts timestamp"
    ).repartition(2)
    path = str(tmp_path / "avro_ds")
    write_avro(df, path)

    register_avro_fallback(spark)
    register_avro_fallback(spark)  # idempotent re-register
    back = spark.read.format("avro_fallback").load(path)
    assert back.schema.simpleString() == (
        "struct<k:bigint,s:string,d:double,ts:timestamp>"
    )
    got = sorted((tuple(r) for r in back.collect()), key=lambda t: t[0])
    want = sorted((tuple(r) for r in df.collect()), key=lambda t: t[0])
    assert got == want
    # one partition per container file
    assert back.rdd.getNumPartitions() == len(
        __import__("glob").glob(f"{path}/part-*.avro")
    )


def test_avro_fallback_stores_utc_micros(spark, tmp_path):
    """r8 review: Avro timestamp-micros is UTC by spec, but the writer
    stored session-LOCAL naive wall-clock micros — any external reader
    (and the datasource route, which labels micros UTC) saw values
    shifted by the session-tz offset. Pin a non-UTC session timezone and
    check the raw container bytes carry the true UTC instant, with both
    read routes returning the original wall clock."""
    import datetime
    import glob as globmod

    from aws_cli_data_pipeline_tools_spark.sources.avro_fallback import (
        _parse_container, read_avro, write_avro,
    )
    from aws_cli_data_pipeline_tools_spark.sources.pyds import (
        register_avro_fallback,
    )

    tz_key = "spark.sql.session.timeZone"
    old_tz = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "America/New_York")
    try:
        wall = datetime.datetime(2024, 1, 15, 12, 0, 0)
        df = spark.createDataFrame(
            [(1, wall)], "k bigint, ts timestamp"
        ).coalesce(1)
        # the tz-independent ground truth: the column's true epoch micros
        true_micros = df.select(F.unix_micros("ts")).collect()[0][0]
        path = str(tmp_path / "avro_tz")
        write_avro(df, path)
        [fname] = globmod.glob(f"{path}/part-*.avro")
        with open(fname, "rb") as f:
            _, raw_rows = _parse_container(f.read())
        # container micros must BE the epoch micros (Avro spec: UTC).
        # The old writer stored session-local wall clock — under the NY
        # session tz that's true_micros + 5h, a 5-hour shift for every
        # external reader.
        assert raw_rows[0][1].value // 1000 == true_micros
        # both read routes return the same instant
        back = read_avro(spark, path)
        assert back.select(F.unix_micros("ts")).collect()[0][0] == true_micros
        assert back.collect() == df.collect()
        register_avro_fallback(spark)
        ds = spark.read.format("avro_fallback").load(path)
        assert ds.select(F.unix_micros("ts")).collect()[0][0] == true_micros
        assert ds.collect() == df.collect()
    finally:
        spark.conf.set(tz_key, old_tz)


def test_avro_fallback_nan_is_a_value_not_null(spark, tmp_path):
    """r8 review: IEEE NaN is a legal Avro double; it used to be written
    as the null union branch (pd.isna conflates the two), and crashed the
    write for non-nullable float fields (float(None))."""
    import math

    from aws_cli_data_pipeline_tools_spark.sources.avro_fallback import (
        read_avro, write_avro,
    )

    df = spark.createDataFrame(
        [(1, 1.5), (2, None), (3, float("nan"))], "k bigint, d double"
    ).coalesce(1)
    path = str(tmp_path / "avro_nan")
    write_avro(df, path)
    got = {r.k: r.d for r in read_avro(spark, path).collect()}
    assert got[1] == 1.5
    assert got[2] is None  # SQL NULL stays null
    assert math.isnan(got[3])  # NaN stays a value
    # non-nullable double carrying NaN: the old path crashed the task
    nn = spark.range(1).select(
        F.col("id").alias("k"), F.lit(float("nan")).alias("d")
    )
    assert not nn.schema["d"].nullable
    p2 = str(tmp_path / "avro_nan_nn")
    write_avro(nn, p2)
    assert math.isnan(read_avro(spark, p2).collect()[0].d)


def test_avro_fallback_mixed_field_order_files(spark, tmp_path):
    """r8 review: each container decodes with its OWN header field order;
    a second writer's different order used to land values under the
    wrong column names with no error (both read routes)."""
    from aws_cli_data_pipeline_tools_spark.sources.avro_fallback import (
        _container_bytes, read_avro, write_avro,
    )
    from aws_cli_data_pipeline_tools_spark.sources.pyds import (
        register_avro_fallback,
    )

    df = spark.createDataFrame([(1, 10)], "a bigint, b bigint").coalesce(1)
    path = str(tmp_path / "avro_order")
    write_avro(df, path)
    swapped = _container_bytes(
        [("b", "long", True), ("a", "long", True)], [(20, 2)]
    )
    with open(f"{path}/part-zzz-swapped.avro", "wb") as f:
        f.write(swapped)  # sorts after the real part file → not the peek
    got = {r.a: r.b for r in read_avro(spark, path).collect()}
    assert got == {1: 10, 2: 20}
    register_avro_fallback(spark)
    ds = {
        r.a: r.b
        for r in spark.read.format("avro_fallback").load(path).collect()
    }
    assert ds == {1: 10, 2: 20}


def test_salt_is_content_derived_and_stable(spark):
    """r8 review: rand()-derived salts used as shuffle keys can migrate
    rows between reducers when a stage is recomputed after a fetch
    failure (rand replays by row position, and recomputed partitions may
    reorder). The salt must be a pure function of row content — identical
    across any partitioning of the same data."""
    rows = [(k, v) for k in range(4) for v in range(50)]
    df = spark.createDataFrame(rows, "k int, v int")
    def salts(d):
        from aws_cli_data_pipeline_tools_spark.operators.skew import (
            _content_salt,
        )
        return {
            (r.k, r.v): r.s
            for r in d.withColumn("s", _content_salt(d, 8)).collect()
        }
    a = salts(df.repartition(1))
    b = salts(df.repartition(13))
    assert a == b  # same row → same salt, regardless of layout
    assert len(set(a.values())) > 1  # and it actually spreads
    direct = {
        (r.k,): (r.n, r.s)
        for r in df.groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    salted = {
        (r.k,): (r.n_rows, r.sum_v)
        for r in skew.salted_count_sum(df, ["k"], ["v"], salts=8).collect()
    }
    assert salted == direct


def test_jsonl_shards_string_ids(spark, tmp_path):
    """r8 review: pmod on a string doc_id cast to double → NULL → one
    NULL bucket and int(NaN) crashing the writer. String ids bucket by
    hash and round-trip exactly."""
    from aws_cli_data_pipeline_tools_spark.sources.export import (
        write_jsonl_shards,
    )

    docs = spark.createDataFrame(
        [(f"doc-{i:03d}", f"text {i}") for i in range(40)],
        "doc_id string, text string",
    )
    out = str(tmp_path / "sshards")
    manifest = write_jsonl_shards(
        docs, out, budget_bytes=256, n_buckets=4
    ).collect()
    assert sum(r.n_docs for r in manifest) == 40
    assert {r.bucket for r in manifest} > {0}  # spread, not one bucket
    back = spark.read.json(f"{out}/bucket=*/shard-*.jsonl")
    assert {(r.doc_id, r.text) for r in back.collect()} == {
        (f"doc-{i:03d}", f"text {i}") for i in range(40)
    }


def test_shard_plan_integer_division_beyond_2_53(spark):
    """r8 review: shard came from double '/' + cast; cumulative bytes
    past 2^53 lose low bits and can land boundary rows in the wrong
    shard vs the integer-DIV oracle. 2^53+3 rounds to 2^53+4 as a double
    — the exact off-by-one this test pins."""
    from aws_cli_data_pipeline_tools_spark.sources.export import shard_plan

    big = (1 << 53) + 3
    df = spark.createDataFrame(
        [(1, big), (2, 10)], "ord int, sz bigint"
    )
    out = {
        r.ord: r.shard
        for r in shard_plan(
            df, "ord", F.col("sz"), budget_bytes=1, bucket_col=F.lit(0)
        ).collect()
    }
    assert out[1] == 0
    assert out[2] == big  # exactly cum-before DIV 1, not the rounded double


def test_avro_fallback_r10_review_fixes(spark, tmp_path):
    """r10 review batch over sources/: (a) nullable BIGINT survives the
    round-trip exactly above 2^53 (the Arrow->pandas float64 coercion
    corrupted snowflake-scale ids); (b) an empty frame round-trips to an
    empty frame WITH schema instead of FileNotFoundError; (c) dotted
    column names work end-to-end (literal-name discipline); (d) a
    re-write to the same path with fewer partitions leaves no stale
    parts; (e) the DataSource route rejects same-name/different-type
    containers instead of yielding wrongly-typed values."""
    import glob
    import os

    from aws_cli_data_pipeline_tools_spark.sources.avro_fallback import (
        read_avro,
        write_avro,
    )

    big = 9_223_372_036_854_775_807  # int64 max: float64 would corrupt
    df = spark.createDataFrame(
        [(big, 1.5), (None, None), (3, float("nan"))],
        "id bigint, `a.b` double",
    )
    p = str(tmp_path / "big")
    write_avro(df.repartition(2), p)
    got = {r["id"] for r in read_avro(spark, p).collect()}
    assert big in got and None in got and 3 in got  # exact, not 9.2e18

    # (b) empty round-trip
    p2 = str(tmp_path / "empty")
    write_avro(df.filter("id = -1"), p2)
    out = read_avro(spark, p2)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["id", "a.b"]

    # (d) overwrite with fewer partitions leaves no stale parts
    write_avro(df.repartition(8), p)
    n8 = len(glob.glob(os.path.join(p, "part-*.avro")))
    write_avro(df.repartition(1), p)
    n1 = len(glob.glob(os.path.join(p, "part-*.avro")))
    assert n1 < n8
    assert read_avro(spark, p).count() == 3

    # (e) mixed-type directory rejected by the DataSource route
    import pytest as _pytest

    from aws_cli_data_pipeline_tools_spark.sources.pyds import (
        register_avro_fallback,
    )

    p3 = str(tmp_path / "mixed")
    write_avro(spark.createDataFrame([(1,)], "x bigint").coalesce(1), p3)
    # second container with x as string, distinct file name
    os.rename(
        os.path.join(p3, "part-00000.avro"),
        os.path.join(p3, "part-00000.avro") + ".keep",
    )
    write_avro(spark.createDataFrame([("s",)], "x string").coalesce(1), p3)
    os.rename(
        os.path.join(p3, "part-00000.avro"),
        os.path.join(p3, "part-00001.avro"),
    )
    os.rename(
        os.path.join(p3, "part-00000.avro") + ".keep",
        os.path.join(p3, "part-00000.avro"),
    )
    register_avro_fallback(spark)
    with _pytest.raises(Exception, match="schema mismatch"):
        spark.read.format("avro_fallback").load(p3).collect()


def test_sources_floor_and_nfiles_guards_r10(spark, tmp_path):
    """r10 review: (a) ns->us normalization FLOORS pre-epoch values
    (integral DIV truncates toward zero, +1us shift before 1970);
    (b) write_sorted rejects an explicit n_files=0 instead of silently
    falling back to the session-default partition count."""
    import datetime

    import pytest as _pytest

    from aws_cli_data_pipeline_tools_spark.sources import (
        normalize_event_ts,
        write_sorted,
    )

    df = spark.createDataFrame([(-1500,), (1500,), (-2000,)], "ts long")
    got = {r.ts for r in normalize_event_ts(df).collect()}
    epoch = datetime.datetime(1970, 1, 1)
    assert epoch + datetime.timedelta(microseconds=-2) in got  # floor(-1.5)
    assert epoch + datetime.timedelta(microseconds=1) in got
    assert epoch + datetime.timedelta(microseconds=-2) in got  # exact -2

    small = spark.range(5).selectExpr("id AS k")
    with _pytest.raises(ValueError, match="n_files"):
        write_sorted(small, str(tmp_path / "ws"), ["k"], n_files=0)
    write_sorted(small, str(tmp_path / "ws1"), ["k"], n_files=1)
    assert spark.read.parquet(str(tmp_path / "ws1")).count() == 5


def test_write_zordered_rejects_reserved_column(spark, tmp_path):
    from pyspark.sql import functions as F

    import pytest as _pytest

    from aws_cli_data_pipeline_tools_spark.sources import write_zordered

    df = spark.range(10).select(
        F.col("id").alias("a"), (F.col("id") * 2).alias("b"),
        F.lit(1).alias("__z"),
    )
    with _pytest.raises(ValueError, match="__z"):
        write_zordered(df, str(tmp_path / "z"), "a", "b")


def test_fan_out_raises_parallelism_of_narrow_frame(spark):
    df = spark.range(1000).coalesce(1)
    assert df.rdd.getNumPartitions() == 1
    wide = fan_out(df)
    assert (
        wide.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    # multiset of rows unchanged
    assert sorted(r.id for r in wide.collect()) == list(range(1000))


def test_fan_out_never_repartitions_down(spark):
    target = spark.sparkContext.defaultParallelism
    df = spark.range(10_000).repartition(target + 7)
    assert fan_out(df).rdd.getNumPartitions() == target + 7


def test_fan_out_env_off(spark, monkeypatch):
    monkeypatch.setenv("SPARKGRAFT_SCAN_FANOUT", "off")
    df = spark.range(100).coalesce(1)
    assert fan_out(df).rdd.getNumPartitions() == 1


def test_fan_out_streaming_passthrough(spark, tmp_path):
    src = str(tmp_path / "s")
    spark.range(3).write.parquet(src)
    stream = spark.readStream.schema("id long").parquet(src)
    assert fan_out(stream) is stream


def test_scan_width_memo_follows_max_partition_bytes(spark, tmp_path):
    """The width memo keys on the confs that decide a scan's static
    partition count: the same plan read under a smaller
    maxPartitionBytes later in the session gets its new, wider count."""
    from aws_cli_data_pipeline_tools_spark.sources import scan_parallelism

    src = str(tmp_path / "w")
    spark.range(200_000).coalesce(1).write.parquet(src)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "128m")
        before = scan_parallelism(spark.read.parquet(src))
        spark.conf.set(key, "64k")
        after = scan_parallelism(spark.read.parquet(src))
        assert after == spark.read.parquet(src).rdd.getNumPartitions()
    finally:
        spark.conf.set(key, old)
    assert before == 1 and after > before


# ---------------------------------------------------------------- schema memo


def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it fired, counted under a
    job group of its own with the ``StatusTracker``."""
    sc = spark.sparkContext
    group = f"schema-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write_arrow(path, **cols):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), str(path))


def test_warm_register_views_fires_no_job(spark, sf_dir):
    register_views(spark, sf_dir)
    _, jobs = _jobs(spark, lambda: register_views(spark, sf_dir))
    assert jobs == 0
    assert spark.table("nation").count() == 25


def test_schema_memo_invalidated_by_new_file(spark, tmp_path):
    """A fixture replaced by a new file (new inode) is inferred again."""
    path = str(tmp_path / "t.parquet")
    _write_arrow(path, a=[1, 2, 3])
    read_parquet(spark, path)
    first, jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert jobs == 0 and first.columns == ["a"]
    _write_arrow(tmp_path / "new.parquet", a=[1, 2], b=["x", "y"])
    os.replace(tmp_path / "new.parquet", path)
    again = read_parquet(spark, path)
    assert again.columns == ["a", "b"]
    assert sorted(map(tuple, again.collect())) == [(1, "x"), (2, "y")]


def test_schema_memo_invalidated_by_file_added_to_directory(spark, tmp_path):
    """A directory dataset's key holds every leaf file: adding one infers
    again."""
    path = tmp_path / "d"
    path.mkdir()
    _write_arrow(path / "part-0.parquet", id=[1, 2, 3])
    read_parquet(spark, str(path))
    _, jobs = _jobs(spark, lambda: read_parquet(spark, str(path)))
    assert jobs == 0
    _write_arrow(path / "part-1.parquet", id=[4])
    again, jobs = _jobs(spark, lambda: read_parquet(spark, str(path)))
    assert jobs >= 1
    assert sorted(r.id for r in again.collect()) == [1, 2, 3, 4]


def test_schema_memo_invalidated_by_same_size_rewrite(spark, tmp_path):
    """An in-place rewrite keeping the inode and the byte size still
    changes the key through its mtime."""
    path = str(tmp_path / "t.parquet")
    _write_arrow(path, aa=[1, 2, 3])
    read_parquet(spark, path)
    first, jobs = _jobs(spark, lambda: read_parquet(spark, path))
    assert jobs == 0 and first.columns == ["aa"]
    before = os.stat(path)
    _write_arrow(tmp_path / "other.parquet", bb=[1, 2, 3])
    shutil.copyfile(tmp_path / "other.parquet", path)  # truncate + write
    after = os.stat(path)
    assert (after.st_ino, after.st_size) == (before.st_ino, before.st_size)
    again = read_parquet(spark, path)
    assert again.columns == ["bb"]
    assert sorted(r.bb for r in again.collect()) == [1, 2, 3]


def test_schema_memo_follows_infer_timestamp_ntz(spark, tmp_path):
    """Flipping ``inferTimestampNTZ`` between calls gives the schema a
    fresh inference gives; flipping back hits the first entry again."""
    import datetime as dt

    path = str(tmp_path / "ts.parquet")
    _write_arrow(path, ts=[dt.datetime(2024, 1, 1, 12, 30)])  # not UTC-adjusted
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        read_parquet(spark, path)
        ntz, jobs = _jobs(spark, lambda: read_parquet(spark, path))
        assert jobs == 0
        assert isinstance(ntz.schema["ts"].dataType, T.TimestampNTZType)
        spark.conf.set(key, "false")
        got = read_parquet(spark, path).schema
        assert got == spark.read.parquet(path).schema
        assert isinstance(got["ts"].dataType, T.TimestampType)
        spark.conf.set(key, "true")
        back, jobs = _jobs(spark, lambda: read_parquet(spark, path))
        assert jobs == 0 and back.schema == ntz.schema
    finally:
        spark.conf.set(key, old)


def test_load_table_frames_self_join_unambiguously(spark, sf_dir):
    """Only the schema is memoized: a second ``load_table`` of one table
    is a new frame, so ``a.k == b.k`` is a self-join, not an ambiguity."""
    a = load_table(spark, "nation", sf_dir)
    b, jobs = _jobs(spark, lambda: load_table(spark, "nation", sf_dir))
    assert jobs == 0 and a is not b
    joined = a.join(b, a.n_nationkey == b.n_nationkey).select(
        a.n_nationkey, b.n_name
    )
    assert joined.count() == 25


def test_schema_memo_is_bounded(spark, tmp_path, monkeypatch):
    from aws_cli_data_pipeline_tools_spark import sources

    monkeypatch.setattr(sources, "_SCHEMA_CACHE", {})
    monkeypatch.setattr(sources, "_SCHEMA_CACHE_MAX", 3)
    for i in range(5):
        path = str(tmp_path / f"t{i}.parquet")
        _write_arrow(path, **{f"c{i}": [i]})
        assert read_parquet(spark, path).columns == [f"c{i}"]
        assert 1 <= len(sources._SCHEMA_CACHE) <= 3
