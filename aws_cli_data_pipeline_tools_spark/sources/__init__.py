"""Data sources: parquet-backed tables + generic readers/writers.

The reference reads from Glue/Hive catalog tables on S3 (parquet/ORC/CSV/JSON/
Avro behind Athena) and writes via CTAS/UNLOAD to the workgroup's output
location (SURVEY.md §2.B scans/sinks). Here sources are Spark readers over
local parquet fixtures plus format-generic read/write helpers; at cluster
scale the same calls read s3a:// paths unchanged.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Fixture table names (TESTDATA.md) — TPC-H-ish star schema + extensions.
TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

#: Small dimension tables — always broadcast-join these against facts.
DIM_TABLES = {"region", "nation", "customer", "supplier", "part"}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def scratch_dir(prefix: str) -> str:
    """A per-process scratch path under the system temp dir for catalog
    entries that must write-then-read (avro round-trip, persisted
    indexes). Three properties, each load-bearing:

    - **pid-unique** — concurrent processes (pytest + a check_oracle
      sweep + the driver) never rmtree/rewrite a path another process is
      reading (the transient PATH_NOT_FOUND race seen r8);
    - **self-cleaning** — an ``atexit`` rmtree per path, so repeated
      runs don't turn pid-uniqueness into an unbounded /tmp leak (one
      corpus-sized copy per process, forever);
    - **stale-reaping** — same-prefix dirs whose ``-{pid}`` suffix names
      a dead process (a crashed/killed run that never reached atexit)
      are removed on the next call, bounding total footprint to the set
      of LIVE processes.
    """
    import atexit
    import shutil
    import tempfile

    tmp = tempfile.gettempdir()
    for entry in os.listdir(tmp):
        if not entry.startswith(prefix + "-"):
            continue
        pid_s = entry.rsplit("-", 1)[-1]
        if pid_s.isdigit() and int(pid_s) != os.getpid():
            try:
                os.kill(int(pid_s), 0)  # 0 = existence probe, no signal
            except ProcessLookupError:
                shutil.rmtree(os.path.join(tmp, entry), ignore_errors=True)
            except PermissionError:
                pass  # alive but other-owned: leave it
    path = os.path.join(tmp, f"{prefix}-{os.getpid()}")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


#: Per-row-compute parallelism floor (r13 optimization round, guide
#: §2.5 "repartition immediately after the read"): every fixture parquet
#: file is ONE row group, so a scan stage is ONE task no matter the core
#: count and every HEAVY per-row pipeline (regex text stats, shingle
#: hashing, decimal folds, Arrow decode kernels) serializes on one core
#: until the first exchange (``spark.sql.files.minPartitionNum`` cannot
#: help — parquet only splits at row-group boundaries). ``fan_out`` is
#: applied INSIDE the operators whose per-row work dominates — NOT
#: blanket in load_table: an A/B at sf0.1 measured blanket fan-out
#: slowing every aggregation/join-shaped query by 0.3-2 s (the extra
#: round-robin exchange moves raw rows and destroys the single-partition
#: partial-aggregation dedup win for count_distinct/sketch aggregates:
#: profile_lineitem_hll 3.4→5.4 s) while the per-row-heavy operators
#: gained 2-3.5× (text_byte_entropy 2.8→0.8 s).
#: Scale posture: the floor is ``defaultParallelism`` (no local-core
#: constant) and inputs already at least that wide pass through
#: untouched, so a real 100 TB scan never gains a shuffle.
#: ``SPARK_GRAFT_SCAN_FANOUT=off`` disables it; an integer pins the
#: width (the un-underscored ``SPARKGRAFT_SCAN_FANOUT`` spelling is
#: honored too — both naming conventions already exist in the repo, see
#: SPARKGRAFT_DRIVER_MEM vs SPARK_GRAFT_SF_DIR; ADVICE r13).
_FANOUT_ENV = "SPARK_GRAFT_SCAN_FANOUT"
_FANOUT_ENV_LEGACY = "SPARKGRAFT_SCAN_FANOUT"

#: Memo of static partition counts keyed by (application id, resolved
#: maxPartitionBytes, resolved shuffle partitions, analyzed-plan
#: semanticHash) — see ``scan_parallelism``.
_WIDTH_CACHE: dict[tuple[str, int, int, int], int] = {}
_WIDTH_CACHE_MAX = 4096


def _fanout_target(df: DataFrame) -> int | None:
    """Resolve the fan-out width from the env override, or None for
    off. Garbage values (non-numeric, < 1) fall back to auto with one
    warning — they used to raise ``ValueError``/error inside every
    operator call (ADVICE r13)."""
    mode = os.environ.get(
        _FANOUT_ENV, os.environ.get(_FANOUT_ENV_LEGACY, "auto")
    )
    if mode == "off":
        return None
    if mode != "auto":
        try:
            pinned = int(mode)
        except ValueError:
            pinned = 0
        if pinned >= 1:
            return pinned
        import warnings

        warnings.warn(
            f"{_FANOUT_ENV}={mode!r} is not 'off', 'auto' or an integer "
            ">= 1 - falling back to auto",
            RuntimeWarning,
            stacklevel=3,
        )
    return df.sparkSession.sparkContext.defaultParallelism


def _sql_conf(spark: SparkSession):
    """The session's JVM ``SQLConf``: its typed getters return values as
    Spark resolves them (size suffixes such as ``64m`` parsed, defaults
    and derived settings applied)."""
    return spark._jsparkSession.sessionState().conf()


def max_partition_bytes(spark: SparkSession) -> int:
    """``spark.sql.files.maxPartitionBytes`` in bytes, as Spark reads it."""
    return int(_sql_conf(spark).filesMaxPartitionBytes())


def scan_parallelism(df: DataFrame) -> int:
    """The frame's STATIC partition count, memoized by analyzed-plan
    ``semanticHash`` (r14, ADVICE r13): ``df.rdd.getNumPartitions()``
    physically plans the whole subtree on the driver — measured
    30-54 ms per call warm — and operators rebuild the same frame every
    invocation, so across a bench pass the probes cost ~1 s.
    ``semanticHash`` on an already-analyzed frame is ~1 ms, and
    semantically-equal plans have equal static partition counts, so the
    memo returns the cached width for every repeat invocation.

    Heuristic scope (documented per ADVICE r13): the count is the
    PRE-AQE static number — on post-shuffle frames it reads the static
    shuffle-partition setting (e.g. 200) even where AQE would coalesce
    at runtime, so width decisions are only meaningful for scan-level
    frames (the only places the operators call this). A hash collision
    can at worst mis-size a repartition width — never affects results.

    The key also holds the application id (never reused, unlike
    ``id()`` of a collected context) and the resolved
    ``maxPartitionBytes`` and shuffle-partition confs, so changing
    either mid-session gives a new key, not a stale width.
    """
    spark = df.sparkSession
    try:
        key = (
            spark.sparkContext.applicationId,
            max_partition_bytes(spark),
            int(_sql_conf(spark).numShufflePartitions()),
            df.semanticHash(),
        )
    except Exception:
        key = None
    if key is not None and key in _WIDTH_CACHE:
        return _WIDTH_CACHE[key]
    n = df.rdd.getNumPartitions()
    if key is not None:
        if len(_WIDTH_CACHE) >= _WIDTH_CACHE_MAX:
            _WIDTH_CACHE.clear()
        _WIDTH_CACHE[key] = n
    return n


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's plan-time size estimate for ``df`` in bytes (file size
    for parquet scans, cached size for materialized InMemoryRelations),
    or None when the optimizer reports an unknown/sentinel value. Driver-
    side plan inspection only — no job runs. (Moved here from
    operators.dedup in r14 so the profiler's narrow-scan gate shares the
    one implementation.)"""
    try:
        raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # py4j converts small scala BigInts to Python int directly; very
        # large ones may surface as JavaObject → stringify
        size = raw if isinstance(raw, int) else int(raw.toString())
    except Exception:  # py4j/analysis errors → treat as unknown
        return None
    # Catalyst propagates Long.MaxValue-ish sentinels when it has no idea
    return size if 0 < size < (1 << 50) else None


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition of a narrow frame up to the cluster's
    default parallelism, applied only when the input has fewer
    partitions (see the module note above). Row placement never affects
    the engine's results: consumers are per-row expressions, order-free
    (decimal-disciplined) aggregations, and total-order top-k phases.
    Streaming frames pass through untouched. Scan-level frames only:
    the width probe reads the static pre-AQE partition count (see
    ``scan_parallelism``)."""
    if df.isStreaming:
        return df
    target = _fanout_target(df)
    if target is None:
        return df
    if scan_parallelism(df) < target:
        return df.repartition(target)
    return df


#: Memo of parquet schemas Spark inferred, keyed by (absolute path, the
#: ``(st_ino, st_size, st_mtime_ns)`` of every leaf file, the resolved
#: inference confs) — see ``read_parquet``.
_SCHEMA_CACHE: dict[tuple, T.StructType] = {}
_SCHEMA_CACHE_MAX = 1024

#: The SQLConf getters that decide an inferred parquet schema: the eight
#: that build ``ParquetToSparkSchemaConverter``, plus the footer choice
#: of ``ParquetUtils.inferSchema`` (merge, summary files, corrupt files).
_PARQUET_INFERENCE_CONFS = (
    "isParquetBinaryAsString",
    "isParquetINT96AsTimestamp",
    "caseSensitiveAnalysis",
    "parquetInferTimestampNTZEnabled",
    "legacyParquetNanosAsLong",
    "parquetFieldIdReadEnabled",
    "parquetIgnoreVariantAnnotation",
    "parquetReaderRespectUnknownTypeAnnotation",
    "isParquetSchemaMergingEnabled",
    "isParquetSchemaRespectSummaries",
    "ignoreCorruptFiles",
)


def _file_identity(path: str) -> tuple | None:
    """``(relative path, st_ino, st_size, st_mtime_ns)`` of every leaf file
    under ``path`` (or of ``path`` itself), or None when the local file
    system cannot see it (``s3a://`` and other remote or glob paths)."""
    try:
        st = os.stat(path)
    except (OSError, ValueError):
        return None
    if not stat.S_ISDIR(st.st_mode):
        return (("", st.st_ino, st.st_size, st.st_mtime_ns),)
    leaves = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            try:
                st = os.stat(full)
            except OSError:  # removed mid-walk: the next call re-walks
                return None
            leaves.append((os.path.relpath(full, path), st.st_ino,
                           st.st_size, st.st_mtime_ns))
    return tuple(sorted(leaves))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers a local path's schema once.

    Inference reads the file footers in a Spark job (about 0.1 s warm per
    table). The inferred ``StructType`` is memoized under the absolute
    path, the identity of every leaf file and the SQLConf values that
    decide inference, read as Spark resolves them; a warm call reads with
    ``spark.read.schema(cached)``, which runs no job. Rewriting a file,
    adding one or flipping e.g. ``inferTimestampNTZ`` gives a new key.
    Only the schema is cached: every call returns a new frame with fresh
    expression ids, so two reads of one table self-join unambiguously,
    and no data is cached. Paths ``os.stat`` cannot see read as before.
    """
    ident = _file_identity(path)
    key = None
    if ident is not None:
        conf = _sql_conf(spark)
        key = (
            os.path.abspath(path),
            ident,
            tuple(bool(getattr(conf, g)()) for g in _PARQUET_INFERENCE_CONFS),
        )
        cached = _SCHEMA_CACHE.get(key)
        if cached is not None:
            return spark.read.schema(cached).parquet(path)
    df = spark.read.parquet(path)
    if key is not None:
        if len(_SCHEMA_CACHE) >= _SCHEMA_CACHE_MAX:
            _SCHEMA_CACHE.clear()
        _SCHEMA_CACHE[key] = df.schema
    return df


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Read one fixture table. Columnar parquet scan — Catalyst pushes
    filters/projection into the scan (check .explain for PushedFilters).
    The schema is inferred once per file identity and inference conf
    (``read_parquet``): a warm call runs no Spark job and returns a new
    frame.

    Timestamp normalization: the fixture generator has shipped ``events.ts``
    both as parquet TIMESTAMP(NANOS) (read as int64 with
    ``spark.sql.legacy.parquet.nanosAsLong``, floored to micros here) and as
    TIMESTAMP(MICROS) without timezone (read as TIMESTAMP_NTZ under Spark 4's
    ``inferTimestampNTZ``). Both are normalized to plain ``TimestampType`` —
    NTZ would reject ``withWatermark`` and diverge from the DuckDB oracle's
    naive TIMESTAMP. The NTZ→TS cast preserves wall-clock time (interpreted
    in the session timezone), matching what DuckDB reads.
    """
    path = os.path.join(sf_dir or DEFAULT_SF_DIR, f"{name}.parquet")
    if name == "events":
        # nanosAsLong is only needed for the events fixture's
        # TIMESTAMP(NANOS) column; the old unconditional set on EVERY
        # table mutated session-global parquet semantics even for
        # sessions that never touch events (a user's own nanos column
        # would silently come back as LongType after a mere
        # load_table('region') — r10 review). It is NOT restored after
        # the read: the scan consults the flag again at execution and
        # the streaming twin reads the raw schema separately, so an
        # events-reading session genuinely needs it for its lifetime
        # (get_spark pins it at session build anyway).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_event_ts(read_parquet(spark, path))
    df = read_parquet(spark, path)
    ntz = [f.name for f in df.schema.fields
           if isinstance(f.dataType, T.TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast(T.TimestampType()))
    return df


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """The events fixture's ``ts`` normalization, shared by the batch
    loader and ``streaming.events_file_stream`` so the two paths can
    never drift (they used to carry two inline copies of this logic —
    r8 review): int64 nanos (read under ``nanosAsLong``) floor to
    micros; TIMESTAMP_NTZ columns cast to plain TimestampType (NTZ
    rejects ``withWatermark`` and diverges from the DuckDB oracle)."""
    if "ts" in df.columns and isinstance(df.schema["ts"].dataType, T.LongType):
        # FLOOR, not DIV: integral DIV truncates toward zero, shifting
        # pre-epoch nanos +1us against the documented flooring (r10
        # review). pmod-based: exact at any int64 magnitude (a double
        # floor(ts/1000) would lose precision past 2^53).
        df = df.withColumn(
            "ts",
            F.timestamp_micros(F.expr("(ts - pmod(ts, 1000)) DIV 1000")),
        )
    for f in df.schema.fields:
        if isinstance(f.dataType, T.TimestampNTZType):
            df = df.withColumn(f.name, F.col(f.name).cast(T.TimestampType()))
    return df


def register_views(spark: SparkSession, sf_dir: str | None = None, tables: list[str] | None = None) -> None:
    """Register every fixture table as a temp view so ``spark.sql`` queries
    name them directly (the engine-side analog of Athena's Glue catalog).
    Each view binds a new ``load_table`` frame; once the schemas are
    memoized, a warm call runs no Spark job."""
    for name in tables or TABLES:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)


def reader(spark: SparkSession, fmt: str) -> DataFrameReader:
    """Format-generic reader covering the reference's source formats
    (parquet, orc, csv, json, avro — SURVEY.md §2.B)."""
    return spark.read.format(fmt)


def write(df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite",
          partition_by: list[str] | None = None, **options: str) -> None:
    """Sink: the reference's CTAS/INSERT/UNLOAD analog (SURVEY.md §2.B).

    ``partition_by`` gives hive-style partition layout so downstream reads
    get partition pruning — the scale-path default for time/tenant keys.
    Extra ``options`` pass through to the writer (e.g. ``header="true"``).
    """
    w = df.write.format(fmt).mode(mode)
    for k, v in options.items():
        w = w.option(k, v)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_files: int | None = None,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Clustered data layout: range-partition on ``sort_cols`` then sort
    within each partition before writing.

    Every output file then covers a near-disjoint range of ``sort_cols``
    (adjacent files can share only boundary values), so parquet min/max
    footer statistics let range predicates skip whole files/row-groups —
    the difference between scanning 100 TB and scanning the 2 % a date
    filter touches. ``repartitionByRange`` samples the sort key for
    balanced boundaries (skew-resistant, unlike hash-mod bucketing on a
    monotone key).
    """
    # `is not None`, not truthiness: an explicitly-passed n_files=0
    # (e.g. ceil(bytes/target) on an empty input) silently fell through
    # to the session-default partition count — hundreds of tiny files,
    # the exact problem compact() documents (r10 review)
    if n_files is not None and n_files < 1:
        raise ValueError(f"write_sorted: n_files must be >= 1, got {n_files}")
    out = (
        df.repartitionByRange(n_files, *sort_cols)
        if n_files is not None
        else df.repartitionByRange(*sort_cols)
    )
    out.sortWithinPartitions(*sort_cols).write.format(fmt).mode(mode).save(path)


def compact(
    spark: SparkSession,
    src: str,
    dst: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    fmt: str = "parquet",
) -> int:
    """Small-file compaction: rewrite ``src`` into ``dst`` with file sizes
    near ``target_file_bytes``; returns the output file count.

    Small files are the silent killer of big scans (one task + one open
    per file; 10⁶ × 100 KB files stall a 1000-executor cluster on
    scheduling, not IO). File count = ceil(input_bytes / target); sizing
    uses the source's on-disk bytes via the Hadoop FileSystem API, so the
    same call works on s3a:// paths. ``dst`` must differ from ``src`` —
    compacting in place would overwrite files a lazy plan still reads.
    """
    if os.path.abspath(src) == os.path.abspath(dst):
        raise ValueError("compact src and dst must differ (lazy-read safety)")
    jvm = spark._jvm
    jsc = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(src)
    fs = p.getFileSystem(jsc)
    total = fs.getContentSummary(p).getLength()
    n_files = max(1, -(-total // target_file_bytes))
    df = spark.read.format(fmt).load(src)
    df.repartition(n_files).write.format(fmt).mode("overwrite").save(dst)
    return n_files


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    col_c: str | None = None,
    n_files: int = 32,
    fmt: str = "parquet",
    mode: str = "overwrite",
) -> None:
    """Z-order (Morton-curve) clustered layout over TWO or THREE numeric
    columns: each column is min/max-scaled to 16 bits, the bits are
    interleaved into one Morton code, and files are range-partitioned +
    sorted on that code.

    Why: 1-D clustering (``write_sorted``) gives footer min/max pruning on
    the lead column only — a filter on the second column still scans every
    file. The Morton curve preserves locality in EVERY clustered
    dimension, so each file covers a small rectangle (2-D) / box (3-D) of
    the key space and range predicates on ANY clustered column skip most
    files (the property Delta/Iceberg OPTIMIZE ZORDER provides; pruning
    ratios pytest-asserted in test_layout.py for both arities).

    ``col_c`` (r11) extends the code to three dimensions — 48 interleaved
    bits, still one long. Per-dimension pruning power necessarily drops
    as dimensions are added (the n_files file boxes split each axis
    ~n_files^(1/dims) ways: 16 files ≈ 4 splits/axis at 2-D but ~2.5 at
    3-D) — the standard ZORDER trade, asserted rather than hidden by the
    3-col pytest.

    Cost: one tiny min/max aggregate (1 row to the driver) + the same
    range-partition shuffle write_sorted pays. NULL cell values encode as
    bucket 0 (cluster with the low corner); an entirely-NULL column gets a
    constant code — the write stays valid, that dimension just can't prune.
    """
    from pyspark.sql import functions as F

    if "__z" in df.columns:
        # the Morton code column would clobber it and then be dropped —
        # the reserved-name discipline of binned_cumsum/_validate_salting
        raise ValueError(
            "write_zordered: input carries a column named '__z' — rename "
            "it first (reserved for the Morton code)"
        )
    cols = [col_a, col_b] + ([col_c] if col_c is not None else [])
    aggs = []
    for j, c in enumerate(cols):
        aggs += [F.min(c).alias(f"lo{j}"), F.max(c).alias(f"hi{j}")]
    bounds = df.agg(*aggs).collect()[0]

    def scaled(c, lo, hi):
        if lo is None or hi is None:
            # entirely-NULL cluster column: no spread to encode — constant
            # code keeps the write valid (that dimension just can't prune)
            return F.lit(0).cast("long")
        span = float(hi - lo) or 1.0
        return F.least(
            F.lit(65535),
            F.coalesce(
                F.floor(
                    (F.col(c).cast("double") - F.lit(float(lo))) / span * 65535
                ),
                F.lit(0),  # NULL values in a partially-null column sort first
            ),
        ).cast("long")

    dims = [
        scaled(c, bounds[f"lo{j}"], bounds[f"hi{j}"])
        for j, c in enumerate(cols)
    ]
    nd = len(dims)
    code = F.lit(0).cast("long")
    for i in range(16):
        # bit i of dim j lands at position i*nd + (nd-1-j): the first
        # column owns the most-significant bit of each group, matching
        # the original 2-col layout (a → 2i+1, b → 2i) exactly
        for j, d in enumerate(dims):
            code = code.bitwiseOR(
                F.shiftleft(
                    F.shiftright(d, i).bitwiseAND(F.lit(1)),
                    i * nd + (nd - 1 - j),
                )
            )
    out = (
        df.withColumn("__z", code)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )
    out.write.format(fmt).mode(mode).save(path)


def read_binary_files(
    spark: SparkSession, path: str, glob: str | None = None, recursive: bool = False
) -> DataFrame:
    """Multimodal ingestion: raw files as rows via the ``binaryFile``
    source — schema (path, modificationTime, length, content:binary).

    The idiomatic scale path from an object store full of images/audio to
    the header-sniffing / decode operators (operators/multimodal): one
    file per row, scan parallelized across executors, with pushdown on
    the file-metadata columns (a ``length < N`` filter prunes files before
    content bytes are read). ``glob`` → ``pathGlobFilter`` selects by
    extension server-side; ``recursive`` walks nested directories.
    """
    r = spark.read.format("binaryFile")
    if glob:
        r = r.option("pathGlobFilter", glob)
    if recursive:
        r = r.option("recursiveFileLookup", "true")
    return r.load(path)
