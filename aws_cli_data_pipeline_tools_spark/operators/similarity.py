"""Similarity search over embedding columns.

Brute-force cosine top-k as the exact baseline; random-hyperplane LSH
bucketing as the approximate scale path (candidates from matching buckets,
exact rerank, top-k per query).

Scale posture: the query set is the small side — always broadcast. The
corpus is never collected. Top-k is two-phase: a partition-local top-k
(mapInPandas, narrow — no shuffle, bounded memory) prunes the scored set to
≤ partitions·queries·k rows, then one tiny per-query window ranks the
survivors. The naive single window over all scored rows would shuffle the
entire corpus's scores into #queries partitions — a single-reducer sort per
query at scale.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import cosine_similarity


def _partition_topk(
    scored: DataFrame, k: int, query_col: str = "query_id",
    score_col: str = "cosine",
) -> DataFrame:
    """Partition-local top-k per query: narrow (no shuffle), keeps at most
    k rows per (input partition, query) under the global ordering
    (score desc, neighbor_id asc) — a superset of every global top-k row.

    Rows are filtered, never recomputed, so downstream values are exactly
    the JVM-scored ones. Memory per worker is O(queries·k) plus one Arrow
    batch: the running top-k folds in one batch at a time.

    NaN discipline (r9 review): Spark orders NaN GREATER than every
    double while the pandas prune places NaN last — opposite ends, so a
    NaN-scored row could survive or die depending on which physical
    partition it landed in, making results partition-dependent. Floating
    score columns therefore normalize NaN → NULL up front: NULL sorts
    worst in BOTH phases (pandas NaN-last within each query group,
    Spark desc() NULLS LAST), restoring the superset invariant and
    partition-independence. NaN only arises from NaN inputs; zero-norm
    vectors already score NULL.
    """
    import pandas as pd

    from pyspark.sql.types import DoubleType, FloatType

    score_type = scored.schema[score_col].dataType
    if isinstance(score_type, (DoubleType, FloatType)):
        # nanvl in the column's OWN type: the old unconditional
        # cast("double") silently widened FloatType score columns,
        # changing every consumer-visible output schema (r10, ADVICE)
        scored = scored.withColumn(
            score_col,
            F.nanvl(
                F.col(score_col), F.lit(None).cast(score_type.simpleString())
            ),
        )

    cols = scored.columns

    def local_topk(batches):
        acc = None
        for batch in batches:
            if batch.empty:
                continue
            both = batch if acc is None else pd.concat((acc, batch))
            acc = (
                both.sort_values(
                    [query_col, score_col, "neighbor_id"],
                    ascending=[True, False, True],
                )
                .groupby(query_col, sort=False)
                .head(k)
            )
        if acc is not None:
            yield acc[cols]

    return scored.mapInPandas(local_topk, schema=scored.schema)


def _fan_out(df: DataFrame) -> DataFrame:
    """Parallelism floor before heavy per-row expression work
    (interpreted decimal/HOF folds) — see ``sources.fan_out``."""
    from ..sources import fan_out

    return fan_out(df)


def _rank_topk(scored: DataFrame, k: int, score_col: str = "cosine") -> DataFrame:
    """Final exact per-query rank over the (already pruned) score set."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score_col).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("query_id", "rank")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by cosine for each query vector (brute force).

    ``queries``: (query_id_col, vec_col). Broadcast × corpus → cosine →
    partition-local top-k (narrow) → per-query rank over the survivors.
    Self-matches (same id) are not excluded — callers filter if the query
    set is drawn from the corpus.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qv")
        )
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = q.crossJoin(c).select(
        "query_id",
        "neighbor_id",
        F.round(cosine_similarity(F.col("qv"), F.col("cv")), 6).alias("cosine"),
    )
    return _rank_topk(_partition_topk(scored, k), k)


def lsh_parity_planes(
    dim: int, n_planes: int, n_tables: int, seed: str = "lsh-v1"
) -> list[list[list[int]]]:
    """±1 Rademacher hyperplanes from md5 parity, [table][plane][dim] —
    the engine's one LSH plane family. Same construction as
    :func:`_md5_parity_signs` with a per-table seed suffix, so a DuckDB
    oracle derives the identical sign matrix from the same seed string
    and replays bucket assignment hash-for-hash. Rademacher signs are a
    standard random-hyperplane family (sign-LSH needs only a symmetric
    zero-mean direction distribution); their measured recall/candidate-
    fraction curves are in BASELINE.md."""
    return [
        _md5_parity_signs(f"{seed}|t{t}", dim, n_planes)
        for t in range(n_tables)
    ]


def _bucketize_portable(
    df: DataFrame, id_name: str, vec_name: str, planes: list[list[list[int]]]
) -> DataFrame:
    """(id, vec) → one row per LSH table: (id, vec, table, bucket), with
    ENGINE-PORTABLE buckets: elements are quantized to integer micro-units
    JVM-side (``_micro`` — Spark's half-up rounding, which numpy's
    half-even np.round would NOT reproduce), then each plane's signed sum
    runs in exact int64 arithmetic (one numpy integer matmul per Arrow
    batch against the ±1 parity matrix — |sum| ≤ dim·max|v|·1e6, far
    inside int64). Integer sums are order-independent, so the sign bits —
    and therefore every bucket — are bit-identical wherever the same
    arithmetic is replayed (the DuckDB oracle twin).

    Narrow (mapInPandas, no shuffle): a JVM-expression formulation would
    inline tables×planes×dim literals into one giant interpreted
    expression tree — slow to analyze and CodegenFallback to execute.
    NULL vectors are dropped up front: they can never be neighbors, and
    one in a batch would turn ``np.stack`` ragged and kill the task."""
    import numpy as np
    import pandas as pd

    p = np.asarray(planes, dtype=np.int64)  # (T, B, dim)
    n_tables, n_planes, dim = p.shape
    flat = p.reshape(n_tables * n_planes, dim).T  # (dim, T·B)
    weights = (1 << np.arange(n_planes)).astype(np.int64)
    id_t = df.schema[id_name].dataType.simpleString()
    vec_t = df.schema[vec_name].dataType.simpleString()
    df = df.filter(F.col(vec_name).isNotNull()).withColumn(
        "__mv", F.transform(F.col(vec_name), _micro)
    )

    def gen(batches):
        for batch in batches:
            if batch.empty:
                continue
            mat = np.stack(batch["__mv"].to_numpy()).astype(np.int64)
            bits = (mat @ flat) >= 0  # exact integer comparison
            bits = bits.reshape(len(batch), n_tables, n_planes)
            buckets = bits @ weights  # (n, T) integer bucket ids
            frames = [
                pd.DataFrame(
                    {
                        id_name: batch[id_name],
                        vec_name: batch[vec_name],
                        "table": t,
                        "bucket": buckets[:, t],
                    }
                )
                for t in range(n_tables)
            ]
            yield pd.concat(frames)

    return df.mapInPandas(
        gen, schema=f"{id_name} {id_t}, {vec_name} {vec_t}, table int, bucket bigint"
    )


def _double_array_sql(cvec: list[float]) -> str:
    """Spark SQL source of an ``array<double>`` literal. ``repr`` is the
    shortest round-trip decimal form, so ``Double.parseDouble`` restores
    the EXACT same IEEE double — the literal carries identical bits to a
    driver-collected value. Non-finite values render as explicit casts
    (``repr`` gives ``nan``/``inf``, and ``nanD``/``infD`` do not parse
    as Spark literals — a NaN/Inf embedding would otherwise surface as a
    ParseException deep inside the trainer; ADVICE r13)."""

    def one(v: float) -> str:
        f = float(v)
        if f != f:
            return "CAST('NaN' AS DOUBLE)"
        if f == float("inf"):
            return "CAST('Infinity' AS DOUBLE)"
        if f == float("-inf"):
            return "CAST('-Infinity' AS DOUBLE)"
        return f"{f!r}D"

    return "array(" + ",".join(one(v) for v in cvec) + ")"


def _centroid_literal_array(cvec: list[float]):
    # Built via ONE SQL parse, not dim py4j lit() calls: classic
    # PySpark's F.lit(list) expands to F.array(*[F.lit(x) ...]) — one
    # py4j round-trip per element, measured at ~1.2 s per k×dim matrix
    # build (r13 optimization round). The parsed CreateArray(literals)
    # constant-folds to a single Literal node.
    return F.expr(_double_array_sql(cvec))


def _portable_dot_literal(vec, cvec: list[float]):
    """Decimal-exact dot of a vector column against a collected centroid
    (engine-portable, VERDICT r12 task 2b): each product is computed in
    DOUBLE then cast to DECIMAL(38,10) — exactly the addend the DuckDB
    twin's ``sum(CAST(x * c AS DECIMAL(38,10)))`` sums — and decimal
    addition at (38,10) is EXACT at embedding magnitudes, so the
    left-to-right fold equals the oracle's order-free group sum bit for
    bit. Runs per-row in the scan (no explode, no join, no shuffle):
    the trainer's whole point vs the pre-r13 long-form k-means shape,
    which paid an n×dim×k join-aggregate per iteration.

    Precision note: the fold runs at DECIMAL(28,10), NOT (38,10) —
    Spark's decimal ADD rule is (p,s)+(p,s) → (p+1, s) capped at 38,
    and at p=38 the cap is paid by dropping the scale to 9, silently
    rounding away the 10th digit each step (and type-mismatching the
    accumulator). At p=28 the add yields (29,10) — scale intact, value
    exact — and the cast back to (28,10) is lossless because |dot| is
    bounded by dim·max|x·c| ≪ 10^18. A double cast to (28,10) rounds
    identically to a cast to (38,10), so the addends — and therefore
    the exact sum — still equal the oracle's
    ``sum(CAST(x*c AS DECIMAL(38,10)))`` addends bit for bit."""
    acc_t = "decimal(28,10)"
    prods = F.zip_with(
        vec,
        _centroid_literal_array(cvec),
        lambda a, b: (a.cast("double") * b).cast(acc_t),
    )
    return F.aggregate(
        prods,
        F.lit(0).cast(acc_t),
        lambda acc, v: (acc + v).cast(acc_t),
    ).cast("double")


def _qname(name: str) -> str:
    """Column reference for textual SQL that resolves like ``F.col(name)``:
    a dotted name is a nested field path (``meta.embedding``), and each
    segment is backtick-quoted so any other character stays literal."""
    return ".".join("`" + p.replace("`", "``") + "`" for p in name.split("."))


def _ranked_lists_sql(vec_sql: str, cents: list[list[float]]) -> str:
    """Spark SQL source of the ranked (dot, list_id) struct array over
    ``vec_sql`` — see :func:`_portable_ranked_lists` for semantics. Split
    out so the whole expression is ONE ``F.expr`` parse."""
    acc = "DECIMAL(28,10)"
    # one array<array<double>> literal via ONE SQL parse (r13
    # optimization round): F.lit(nested list) expands element-wise
    # through py4j (~1.2 s of pure expression-BUILD cost per call at
    # k×dim=1024) and left k×dim nodes for every analyzer pass; the
    # parsed form constant-folds to a single Literal. The literal VALUES
    # are identical IEEE doubles (repr round-trip).
    cmat = "array(" + ",".join(_double_array_sql(cv) for cv in cents) + ")"
    # the same ops, casts and fold order as the r13 Column-API form
    # (zip_with product at DECIMAL(28,10), left fold with per-step cast,
    # final CAST AS DOUBLE) — see _portable_dot_literal for the decimal
    # discipline and its oracle-parity argument
    dot = (
        f"CAST(aggregate(zip_with({vec_sql}, element_at({cmat}, i), "
        f"(a, b) -> CAST((CAST(a AS DOUBLE) * b) AS {acc})), "
        f"CAST(0 AS {acc}), (acc, v) -> CAST((acc + v) AS {acc})) AS DOUBLE)"
    )
    structs = (
        f"transform(sequence(1, {len(cents)}), "
        f"i -> named_struct('dot', {dot}, 'list_id', CAST((i - 1) AS INT)))"
    )
    return (
        f"array_sort({structs}, (a, b) -> "
        "CASE WHEN a.dot > b.dot THEN -1 WHEN a.dot < b.dot THEN 1 "
        "ELSE (CASE WHEN a.list_id < b.list_id THEN -1 "
        "WHEN a.list_id > b.list_id THEN 1 ELSE 0 END) END)"
    )


def _portable_ranked_lists(vec_col: str, cents: list[list[float]]):
    """Array of (dot, list_id) structs sorted desc-by-dot / asc-by-list —
    element 1 is the argmax assignment (ties → smallest list_id, the
    DuckDB twin's ``ORDER BY dot DESC, list_id``), a slice of the first
    n_probe is the probe set. ``vec_col`` is the COLUMN NAME of the
    vector, dotted for a nested field as with ``F.col`` (r14: the whole
    expression is one textual SQL parse, so the reference must be a
    name, not a Column).

    Built as ONE transform over a nested centroid-matrix literal, not k
    separate ``_portable_dot_literal`` trees: the k-tree form carried
    k×(zip_with + aggregate) expression nodes and its ANALYSIS cost
    dominated the whole trainer (measured 11 s of a 15 s sf0.01 run,
    r13) — the single-tree form shares one dot subtree across all k
    centroids and only the 2-D literal grows with k. Built via ONE
    ``F.expr`` SQL parse (r14): the r13 Column-API form still paid
    ~0.22 s of driver-side py4j round-trips per call (lambda plumbing ×
    transform/zip_with/aggregate/array_sort), ×4 calls per ANN entry
    (2 trainer iterations + corpus labeling + query probes) ≈ 0.9 s of
    pure expression-BUILD wall per entry; the parse costs ~5 ms and
    yields the same resolved operators, casts, and fold order, so the
    per-row arithmetic — and therefore oracle replay — is unchanged
    (re-verified: full similarity-family exact sweep, r14)."""
    return F.expr(_ranked_lists_sql(_qname(vec_col), cents))


def _normalize_centroid_matrix(spark, cents: list[list[float]]) -> list[list[float]]:
    """L2-normalize driver-side centroids with the exact decimal-sum
    discipline of the DuckDB twin's ``_duck_kmeans_norm``: the
    squared-norm sum runs through SPARK's own expression engine
    (:func:`_centroid_norms` — no distributed job), so the double divisor
    is bit-identical to the distributed
    ``sqrt(CAST(sum(CAST(c*c AS DECIMAL(38,10))) AS DOUBLE))`` both
    engines compute. The per-element division c/nrm is plain IEEE double
    division — identical in Python and the JVM. Zero-norm centroids pass
    through unchanged (same CASE as the oracle)."""
    if not cents:
        return []
    norms = _centroid_norms(spark, cents)
    return [
        [v / norms[i] for v in cv]
        if norms[i] and norms[i] > 0
        else [float(v) for v in cv]
        for i, cv in enumerate(cents)
    ]


def _centroid_norms(spark, cents: list[list[float]]) -> list[float]:
    """Decimal-exact L2 norms of driver-side centroid rows, evaluated by
    Spark's own expression engine: ONE transform over a single-parse 2-D
    literal against a OneRowRelation (r13 optimization round — the
    literal matrix comes from one SQL parse, not k×dim py4j lit() calls,
    and the one-row frame comes from spark.sql: classic createDataFrame
    builds an RDD-backed frame that runs a real distributed job per
    call, while OneRowRelation constant-folds to a LocalRelation
    collected driver-side; measured 2-5.6 s → ~0.15 s per call). The
    (28,10) fold equals the distributed order-free
    ``sum(CAST(c*c AS DECIMAL(38,10)))`` bit for bit — decimal addition
    is exact at these magnitudes (see ``_portable_dot_literal``)."""
    row = (
        spark.sql("SELECT 1 AS z")
        .select(F.expr(_centroid_norms_sql(cents)).alias("n"))
        .collect()[0]
    )
    return [float(x) for x in row["n"]]


def _centroid_norms_sql(cents: list[list[float]]) -> str:
    """Spark SQL source of the decimal-exact norm array over a centroid
    matrix literal — the exact expression :func:`_centroid_norms`
    evaluates, in textual form so call sites can embed it
    constant-foldably inside an existing job (r14: the kmeans labeling
    pass folds it instead of paying a separate local collect; constant
    folding runs the very same expression ``eval``, so the values are
    bit-identical to the collected form)."""
    acc = "DECIMAL(28,10)"
    cmat = "array(" + ",".join(_double_array_sql(cv) for cv in cents) + ")"
    return (
        f"transform({cmat}, row -> sqrt(CAST(aggregate(row, "
        f"CAST(0 AS {acc}), "
        f"(acc, v) -> CAST((acc + CAST((v * v) AS {acc})) AS {acc})"
        f") AS DOUBLE)))"
    )


def _portable_centroid_literals(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    refine_iters: int,
) -> list[list[float]]:
    """The engine's one IVF/k-means trainer, returning the centroids as
    driver-side floats (O(k·dim) model state, like the LSH planes) —
    shared by :func:`ivf_topk`, :func:`build_ivf_index` and
    :func:`kmeans_clusters`, and replayed step-for-step by the DuckDB
    Lloyd unroll (catalog ``_duck_kmeans_iter``):

    - seeding: the ``n_centroids`` rows with the smallest
      ``(portable_hash64(id), id)``; list_id = that order's 0-based rank;
    - assignment: per-ROW argmax of decimal-exact dots against the
      CURRENT centroids as literals (``_portable_ranked_lists``) — one
      scan, no explode, no join, no shuffle;
    - update: per-(list, pos) decimal mean over a posexploded pass —
      the only shuffle per iteration, and it map-side-combines down to
      k·dim groups; empty clusters keep their previous centroid;
    - normalization: decimal squared-norm sum → double divisor.

    Physical shape (r14 optimization round — §2.4 stage-latency
    amortization, VERDICT r13 task 2): the seed TakeOrdered job ALSO
    evaluates each seed vector's decimal squared-norm (the same
    expression tree :func:`_centroid_norms` applies to literals,
    elements cast to double first — exact widening), so the post-seed
    ``_normalize_centroid_matrix`` local collect is gone; the driver
    only divides. Each Lloyd iteration stays ONE distributed action —
    scan → per-row literal-centroid argmax → posexplode → k·dim-group
    decimal mean → collect(k·dim rows) — followed by the r13
    OneRowRelation norm collect.

    Two deeper folds were BUILT, MEASURED and REVERTED (r14):

    - Folding the iteration norms into the means action as a unioned
      second aggregation branch (ReusedExchange shares the scan) saves
      a ~0.15 s local collect but re-ANALYZES the k×dim-literal argmax
      tree in both union branches — interleaved clean-window A/B read
      ann_ivf_topk ~0.35 s WORSE (med 3.65 vs 3.28). Analyzer wall on
      the big tree, not action count, is the binding cost.
    - Folding seeds into iteration 1's job (the VERDICT r13 sketch)
      would assign via a broadcast join + per-id aggregation, i.e. a
      corpus-sized exchange — the wrong trade at warehouse scale, where
      this shape's invariant is that the corpus never shuffles. Not
      built.

    The pre-r13 long-form chain
    (assign via broadcast-join + per-id window, means via an xe⋈assign
    shuffle join, normalize via groupBy+broadcast-join, all unrolled into
    a single ~22-stage plan) paid ~0.4-0.5 s of stage latency per stage
    on the bench box with trivially small data per stage; this shape is
    ~5 stages total. Normalization and the empty-cluster coalesce happen
    driver-side, with the one non-trivial arithmetic step (the decimal
    squared-norm sum) still evaluated by Spark's expression engine
    so no engine-replication risk is
    introduced. Value-identity with the long form (and therefore with the
    DuckDB unroll): the per-row literal argmax equals the group-sum argmax
    because both sum the identical 10-decimal-rounded addends exactly
    (the established ``_portable_dot_literal`` argument — this identity
    is already load-bearing for the corpus labeling step the oracle
    checks); the decimal mean expression is unchanged; collect round-trips
    IEEE doubles exactly. Scale posture: per iteration the corpus is
    scanned once and only k·dim aggregated rows cross an exchange — the
    corpus itself never shuffles (pass a persisted corpus to amortize the
    scans, as the clustered catalog entries do)."""
    from ..functions import portable_hash64

    spark = corpus.sparkSession
    src = corpus.filter(F.col(vec_col).isNotNull())
    ph = portable_hash64(F.col(id_col).cast("string"))
    acc_t = "decimal(28,10)"
    # the exact _centroid_norms fold over the vector COLUMN (elements
    # cast to double first — float widens to double exactly, so the
    # products match the collected-literal path bit for bit)
    col_norm = F.sqrt(
        F.aggregate(
            F.col("__v"),
            F.lit(0).cast(acc_t),
            lambda a, v: (
                a + (v.cast("double") * v.cast("double")).cast(acc_t)
            ).cast(acc_t),
        ).cast("double")
    )
    seed_rows = (
        src.select(
            F.col(id_col).alias("id"), ph.alias("__ph"), F.col(vec_col).alias("__v")
        )
        .orderBy("__ph", "id")
        .limit(n_centroids)
        .select("__v", col_norm.alias("__n"))
        .collect()
    )
    if not seed_rows:
        # name the problem instead of failing on an empty centroid
        # literal deep inside the first iteration's SQL parse
        raise ValueError("corpus is empty: cannot seed k-means centroids")

    def _divide(mat: list[list[float]], norms: list[float]) -> list[list[float]]:
        # the _normalize_centroid_matrix division, norms precomputed
        return [
            [v / norms[i] for v in cv]
            if norms[i] and norms[i] > 0
            else [float(v) for v in cv]
            for i, cv in enumerate(mat)
        ]

    # collected floats widen to Python doubles exactly — the same values
    # xe's cast(xf as double) produced in the long form
    cents = _divide(
        [[float(x) for x in r["__v"]] for r in seed_rows],
        [r["__n"] for r in seed_rows],
    )
    src_wide = _fan_out(src)
    for _ in range(refine_iters):
        # the posexplode generator stays in its own select (see the
        # FIELD_NOT_FOUND note on _ivf_probes)
        assigned = src_wide.select(
            F.col(vec_col).alias("__v"),
            F.element_at(_portable_ranked_lists(vec_col, cents), 1)[
                "list_id"
            ].alias("list_id"),
        )
        mean_rows = (
            assigned.select("list_id", F.posexplode("__v").alias("pos", "xf"))
            .groupBy("list_id", "pos")
            .agg(
                (
                    F.sum(F.col("xf").cast("double").cast("decimal(38,10)"))
                    .cast("double")
                    / F.count("*")
                ).alias("m")
            )
            .collect()
        )
        means = {(r["list_id"], r["pos"]): r["m"] for r in mean_rows}
        merged = [
            [means.get((li, p), cents[li][p]) for p in range(len(cents[li]))]
            for li in range(len(cents))
        ]
        cents = _normalize_centroid_matrix(spark, merged)
    return cents


def _query_frame(queries: DataFrame, query_id_col: str, vec_col: str) -> DataFrame:
    """(query_id, qv) over the non-NULL query vectors."""
    return queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )


def _ivf_probes(q: DataFrame, cents: list[list[float]], n_probe: int) -> DataFrame:
    """(query_id, qv) → (query_id, qv, __plist), one row per probed list:
    the ``n_probe`` nearest centroids by decimal-exact dot, ties to the
    smaller list id (the DuckDB twin's ``rn <= n_probe``).

    Slice first, explode in a separate select: a generator and the
    struct-building lambda of :func:`_portable_ranked_lists` resolved in
    one select fail analysis with FIELD_NOT_FOUND."""
    return (
        q.select(
            "query_id",
            "qv",
            F.slice(_portable_ranked_lists("qv", cents), 1, n_probe).alias(
                "__pr"
            ),
        )
        .select("query_id", "qv", F.explode("__pr").alias("__p"))
        .select("query_id", "qv", F.col("__p")["list_id"].alias("__plist"))
    )


def _ivf_rerank(probes: DataFrame, labeled: DataFrame, k: int) -> DataFrame:
    """Candidates = probes ⋈ labeled corpus rows (neighbor_id, cv,
    list_id) on the list id; exact cosine rerank, two-phase top-k.

    Null-safe join key + explicit not-null filter on the TINY side
    (r13 optimization round): a plain equi-join makes
    InferFiltersFromConstraints derive isnotnull(list_id) for BOTH
    sides and push it below the exchange, re-evaluating the whole
    per-row decimal argmax in a single-task pre-shuffle Filter
    (measured 2.3 s of the rerank's 2.8 s at sf0.1). `<=>` implies no
    not-null constraints, and filtering null probes on the broadcast
    side (a few rows — the re-evaluation is free there) makes the
    result identical to the equi-join for every input: with no null
    probe keys, corpus rows with a null list_id can match nothing under
    either join."""
    cand = (
        F.broadcast(probes.filter(F.col("__plist").isNotNull()))
        .join(labeled, F.col("__plist").eqNullSafe(F.col("list_id")))
        .select("query_id", "neighbor_id", "qv", "cv")
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_similarity(F.col("qv"), F.col("cv")), 6).alias("cosine"),
    )
    return _rank_topk(_partition_topk(scored, k), k)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    refine_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate NN via an IVF (inverted-file) partition of the corpus.

    Train ``n_centroids`` cosine centroids with
    :func:`_portable_centroid_literals` (md5-parity seeding + decimal-
    exact Lloyd steps), label each corpus vector with its nearest
    centroid, expand each query to its ``n_probe`` nearest lists,
    join query probes to corpus labels on the list id, exact-rerank
    candidates by cosine, two-phase top-k. Every step is deterministic
    decimal or integer arithmetic, so the lists, the candidate set and
    the full top-k are replayed hash-for-hash by the catalog's DuckDB
    oracle (``ann_ivf_topk``). NULL vectors are dropped on both sides.

    Scale posture vs LSH: same candidate-join shape, but the partition is
    data-adaptive (centroids follow density) so probe lists capture near
    neighbors with far fewer candidates per query on clustered corpora.
    Assignment is a per-row expression in the scan and probes broadcast,
    so the corpus never shuffles. At warehouse scale the labeled corpus
    IS the index — :func:`build_ivf_index` writes it
    ``partitionBy("list_id")`` once and :func:`ivf_index_topk` turns
    every probe join into a partition-pruned scan of n_probe/n_centroids
    of the data, with the same results as this function. Cluster-size
    skew (a hot list) is bounded by n_centroids sizing; AQE skew-join
    handles the residual.
    """
    cents = _portable_centroid_literals(
        corpus, id_col, vec_col, n_centroids, refine_iters
    )
    c = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    labeled = _fan_out(c).withColumn(
        "list_id",
        F.element_at(_portable_ranked_lists("cv", cents), 1)["list_id"],
    )
    probes = _ivf_probes(_query_frame(queries, query_id_col, vec_col), cents, n_probe)
    return _ivf_rerank(probes, labeled, k)


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    refine_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist an IVF index: the labeled corpus written
    ``partitionBy(list_id)`` plus the centroid matrix as a tiny parquet.

    Same trainer and labels as :func:`ivf_topk`, so
    :func:`ivf_index_topk` over this index returns exactly ``ivf_topk``'s
    rows for the same parameters. NULL vectors are not indexed. The
    partitioned layout is the point — a probe of n_probe lists becomes
    a partition-pruned scan reading n_probe/n_centroids of the corpus
    (PartitionFilters in the plan), which is what makes IVF pay at 100 TB:
    index once, then every query touches only its probed fraction.
    """
    spark = corpus.sparkSession
    cents = _portable_centroid_literals(
        corpus, id_col, vec_col, n_centroids, refine_iters
    )
    labeled = _fan_out(corpus.filter(F.col(vec_col).isNotNull())).select(
        F.col(id_col),
        F.col(vec_col),
        F.element_at(_portable_ranked_lists(vec_col, cents), 1)["list_id"]
        .alias("list_id"),
    )
    # cluster by the write-partition key before partitionBy (guide §6):
    # with a multi-partition input every task would otherwise open a file
    # in EVERY list_id dir (input_partitions × n_lists small files — the
    # many-small-files write problem); one hash exchange on list_id gives
    # each dir a bounded file count at any input parallelism.
    labeled.repartition("list_id").write.mode("overwrite").partitionBy(
        "list_id"
    ).parquet(f"{path}/corpus")
    spark.createDataFrame(
        list(enumerate(cents)), "list_id int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_index_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Query a persisted IVF index: read centroids (tiny), expand queries
    to probe lists, scan ONLY those ``list_id=`` partitions of the indexed
    corpus (``isin`` filter on the partition column → partition pruning),
    exact-rerank, two-phase top-k. Same results as ``ivf_topk`` with the
    same parameters; the corpus scan cost drops to n_probe/n_centroids.
    """
    rows = spark.read.parquet(f"{path}/centroids").collect()
    if not rows:
        raise ValueError(
            f"ivf_index_topk: no centroids under {path}/centroids — run "
            "build_ivf_index first (empty or corrupt index)"
        )
    cents = [list(r["centroid"]) for r in sorted(rows, key=lambda r: r["list_id"])]
    # collect the (small, broadcastable-by-contract) probe assignments
    # ONCE and rebind as a local relation: the lazy plan would evaluate
    # the probe expansion twice — once for the list-id pull, again
    # inside the broadcast join (r8 review)
    probes_plan = _ivf_probes(
        _query_frame(queries, query_id_col, vec_col), cents, n_probe
    )
    probe_rows = probes_plan.collect()
    probes = spark.createDataFrame(probe_rows, probes_plan.schema)
    probe_lists = sorted({r["__plist"] for r in probe_rows})
    c = (
        spark.read.parquet(f"{path}/corpus")
        .filter(F.col("list_id").isin(probe_lists))  # partition-pruned scan
        .select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), "list_id"
        )
    )
    return _ivf_rerank(probes, c, k)


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = None,
) -> DataFrame:
    """Approximate NN: multi-table random-hyperplane LSH.

    Each of ``n_tables`` tables hashes vectors to a ``n_planes``-bit bucket;
    a corpus row is a candidate if it shares a bucket with the query in any
    table. Candidates are exact-reranked by cosine (JVM-side, same values as
    ``cosine_topk``) and top-k'd two-phase. Recall rises with n_tables; cost
    is n_tables bucket joins instead of one full scan — on a 1000-executor
    cluster the bucket join shuffles only candidate rows, never the vectors
    of non-candidates.

    The planes are md5-parity ±1 Rademacher planes seeded by
    ``f"lsh-v1|{seed}"`` (:func:`lsh_parity_planes`), and buckets are
    exact integer micro-unit sign sums (:func:`_bucketize_portable`), so
    every bucket — and therefore the full candidate set, rerank and
    top-k — is replayed hash-for-hash by the catalog's DuckDB oracle
    (``ann_lsh_topk``). NULL vectors are dropped on both sides.

    ``dim`` avoids a driver-side first-row probe; pass it when the vector
    length is known (it is part of the data contract).
    """
    if dim is None:  # fallback probe — one tiny driver action
        first = corpus.select(vec_col).first()
        if first is None:
            raise ValueError(
                "lsh_ann_topk: corpus is empty — pass dim= or a non-empty "
                "corpus (the dim probe reads the first row)"
            )
        dim = len(first[0])

    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    planes = lsh_parity_planes(dim, n_planes, n_tables, f"lsh-v1|{seed}")
    c_b = _bucketize_portable(_fan_out(c), "neighbor_id", "cv", planes)
    q_b = _bucketize_portable(q, "query_id", "qv", planes)

    # Null-safe join keys + not-null filter on the TINY side: the plain
    # equi-join made InferFiltersFromConstraints re-evaluate the whole
    # per-row bucket expression in a derived isnotnull Filter below the
    # corpus-side exchange (see :func:`_ivf_rerank` — same pathology,
    # measured there). Dropping null-keyed query rows keeps
    # the result identical to the equi-join for every input.
    q_nn = q_b.filter(
        F.col("table").isNotNull() & F.col("bucket").isNotNull()
    ).select(
        F.col("query_id"),
        F.col("qv"),
        F.col("table").alias("__qtable"),
        F.col("bucket").alias("__qbucket"),
    )
    cand = (
        F.broadcast(q_nn)
        .join(
            c_b,
            F.col("__qtable").eqNullSafe(F.col("table"))
            & F.col("__qbucket").eqNullSafe(F.col("bucket")),
        )
        .select("query_id", "neighbor_id", "qv", "cv")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(cosine_similarity(F.col("qv"), F.col("cv")), 6).alias("cosine"),
    )
    return _rank_topk(_partition_topk(scored, k), k)


def quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Scalar int8 quantization of an embedding column: per-vector
    ``scale = max|v|`` and ``q_i = round(v_i / scale * 127)`` ∈ [-127, 127].

    The memory/IO scale path for ANN: a quantized corpus is 4x smaller than
    float32 (16 GB instead of 64 GB per billion 64-dim vectors), so scans,
    shuffles, and cache residency all improve by the same factor; scoring
    becomes exact integer arithmetic (reproducible across engines — see
    ``int8_topk``). Pure narrow projection; all arithmetic is forced to
    DOUBLE so the rounding is bit-identical wherever it is replayed.
    Zero vectors quantize to all-zero with scale 0.
    """
    v_abs = F.transform(F.col(vec_col), lambda v: F.abs(v.cast("double")))
    scale = F.array_max(v_abs)
    q = F.transform(
        F.col(vec_col),
        # TINYINT storage: values are bounded in [-127, 127] by
        # construction, and a 1-byte element is the entire point of the
        # quantization — cast("int") stored 4-byte elements, the same
        # width as the float32 input, so the documented 4× memory/scan
        # reduction never materialized (r9 review). Consumers widen
        # BEFORE multiplying (127² overflows tinyint under ANSI).
        lambda v: F.when(scale > 0, F.round(v.cast("double") / scale * 127))
        .otherwise(F.lit(0))
        .cast("tinyint"),
    )
    return df.select(
        F.col(id_col), scale.cast("double").alias("scale"), q.alias("qvec")
    )


def int8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k by int8-quantized dot product for each query vector.

    Same plan shape as ``cosine_topk`` (broadcast queries x corpus →
    partition-local top-k → tiny final rank), but scoring is an integer
    dot over the quantized vectors: |q·c| ≤ 127² · dim stays well inside
    a long, and integer arithmetic is deterministic across engines — the
    rare ANN scoring that is exactly oracle-checkable. Ranking by the
    quantized dot approximates cosine for similarly-normed vectors while
    reading 4x fewer bytes per score.
    """
    qc = quantize_int8(corpus, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("qvec").alias("cv")
    )
    qq = F.broadcast(
        quantize_int8(queries, query_id_col, vec_col).select(
            F.col(query_id_col).alias("query_id"), F.col("qvec").alias("qv")
        )
    )
    dot = F.aggregate(
        # widen each operand BEFORE the product: qvec is tinyint storage
        # and 127·127 overflows a tinyint product under ANSI mode
        F.zip_with(
            "qv", "cv", lambda a, b: a.cast("long") * b.cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = qq.crossJoin(qc).select(
        "query_id", "neighbor_id", dot.alias("dot")
    )
    return _rank_topk(
        _partition_topk(scored, k, score_col="dot"), k, score_col="dot"
    )


def kmeans_clusters(
    corpus: DataFrame,
    n_centroids: int = 16,
    refine_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic spherical k-means over an embedding column — the IVF
    trainer exposed as a first-class clustering op (cluster labels drive
    diversity sampling, topic balance, and per-cluster quotas in a
    training-data pipeline; the same labels ARE the IVF index lists).
    Returns (id, list_id, cos_to_centroid) for every non-NULL vector.
    Every arithmetic step follows the repo's cross-engine determinism
    discipline, so a DuckDB oracle replays labels AND cosines exactly
    (VERDICT r11 task 4a).

    Raises ``ValueError`` on an empty or all-null-vector corpus (since
    r13: the trainer needs at least one seed vector; earlier rounds
    returned an empty frame here — the explicit raise replaces a
    garbage-literal failure mode deeper in the trainer, documented per
    ADVICE r13). Contract details:

    - seeding: the ``n_centroids`` rows with the smallest
      ``(portable_hash64(id), id)`` — md5-derived, both engines agree;
      ``list_id`` is that order's 0-based rank.
    - assignment: ``argmax_k Σ_i x_i·c_ki`` with the inner product as a
      DECIMAL(38,10) sum (order-independent, so partitioning cannot
      perturb the double that enters the comparison); cosine argmax ≡
      dot argmax because the row norm is a positive per-row constant.
      Ties break on the smaller list_id in both engines.
    - update: per-dimension mean = decimal-sum / count; empty clusters
      keep their previous centroid; L2 normalization via a decimal
      squared-norm sum.

    Physical shape (r13 optimization round): training runs through
    :func:`_portable_centroid_literals` (seeds TakeOrdered + ONE
    distributed action per Lloyd iteration — the collect-per-iteration
    form that replaced the ~22-stage unrolled join/window chain), and the
    final labeling is a single fan-out scan with the centroids as
    literals: per-row argmax dot (``_portable_ranked_lists``), per-row
    decimal squared-norm, and the centroid norms as a k-element literal
    (``_centroid_norms``). Value identity with the previous long form —
    and therefore with the DuckDB unroll that oracles
    ``embedding_cluster_profile`` — follows from the established
    ``_portable_dot_literal`` argument: every decimal fold sums the
    identical 10-decimal-rounded addends exactly, so fold-vs-group-sum
    order is immaterial, and the final round/divide expressions are
    unchanged. The corpus never shuffles and nothing corpus-sized is
    cached anymore (the r12 xe-cache leak class is gone by construction);
    ``release_cache`` is kept as a no-op for the documented caller
    contract.
    """
    src = corpus.filter(F.col(vec_col).isNotNull())
    cents = _portable_centroid_literals(
        src, id_col, vec_col, n_centroids, refine_iters
    )
    # constant-foldable norm array over the final centroid literals —
    # evaluated by ConstantFolding inside the labeling job itself (r14:
    # replaces a _centroid_norms local collect; same expression, same
    # engine, identical bits)
    cn_lit = F.expr(_centroid_norms_sql(cents))
    acc_t = "decimal(28,10)"
    xn = F.sqrt(
        F.aggregate(
            F.col("__v"),
            F.lit(0).cast(acc_t),
            lambda acc, v: (
                acc + (v.cast("double") * v.cast("double")).cast(acc_t)
            ).cast(acc_t),
        ).cast("double")
    )
    # two-step select: the ranked-list argmax must be produced ONCE and
    # consumed by field access only — CollapseProject keeps the boundary
    # because the producing expression is non-cheap and referenced more
    # than once (same discipline as the ivf_topk probe site)
    step = _fan_out(src).select(
        F.col(id_col),
        F.col(vec_col).alias("__v"),
        F.element_at(_portable_ranked_lists(vec_col, cents), 1).alias(
            "__r1"
        ),
    )
    out = step.select(
        F.col(id_col),
        F.col("__r1")["list_id"].alias("list_id"),
        F.round(
            F.col("__r1")["dot"]
            / F.nullif(
                xn * F.element_at(cn_lit, F.col("__r1")["list_id"] + 1),
                F.lit(0.0),
            ),
            6,
        ).alias("cos_to_centroid"),
    )
    # no corpus-sized cache remains in this shape; the attribute stays so
    # existing callers' release_cache() contract keeps working unchanged
    out.release_cache = lambda blocking=False: None
    return out


def _sign_on(seed: str):
    """md5-parity ±1 branch selector (0 → +v, 1 → −v) as an expression
    factory — the ONE definitional copy of the sign derivation shared by
    :func:`random_projection` and :func:`jl_sign_buckets` (r9 review:
    was duplicated verbatim; this arithmetic is determinism-critical —
    it must stay bit-identical to ``_md5_parity_signs`` AND to the
    DuckDB oracle SQL, so a fix applied to one copy but not the other
    would silently break the cross-replication contract)."""

    def sel(i, j):
        return F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|", F.lit(seed), i.cast("string"), j.cast("string")
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint"),
            F.lit(2),
        )

    return sel


def _micro(v):
    """Integer micro-unit quantization term (shared; see _sign_on)."""
    return F.round(v.cast("double") * 1_000_000, 0).cast("bigint")


def _lit_sign_micro_sum(vec_col: str, sign_arr):
    """Signed micro-unit sum with a PLAN-TIME sign array (fast path:
    zip_with a ±1 literal array — no per-element md5 at runtime)."""
    return F.aggregate(
        F.zip_with(
            F.col(vec_col),
            sign_arr,
            lambda v, s: _micro(v) * s.cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _md5_signed_micro_sum(vec_col: str, seed: str, j):
    """Signed micro-unit sum deriving each element's sign from md5
    parity at runtime (slow path; ``j`` is a Column or an int)."""
    son = _sign_on(seed)
    jc = F.lit(j) if isinstance(j, int) else j
    return F.aggregate(
        F.transform(
            F.col(vec_col),
            lambda v, i: F.when(son(i, jc) == 0, _micro(v)).otherwise(
                -_micro(v)
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _md5_parity_signs(seed: str, dim: int, out_dim: int) -> list[list[int]]:
    """±1 sign matrix [j][i] replicating the md5-parity expression form in
    Python at PLAN-BUILD time — hashlib and Spark agree on the md5 digest
    of ``seed|i|j``, so these literals are bit-identical to the signs the
    expression form derives per row; baking them in removes dim×out_dim
    interpreted md5 evaluations per ROW (the dominant cost of the
    expression form) while keeping the DuckDB oracle replay unchanged."""
    import hashlib

    return [
        [
            1
            if int(
                hashlib.md5(f"{seed}|{i}|{j}".encode()).hexdigest()[:15], 16
            )
            % 2
            == 0
            else -1
            for i in range(dim)
        ]
        for j in range(out_dim)
    ]


def random_projection(
    df: DataFrame,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "jl-v1",
    dim: int | None = None,
) -> DataFrame:
    """Seeded sparse-sign random projection (Achlioptas/Johnson-
    Lindenstrauss): ``out_j = sum_i sign(i,j) * v_i / sqrt(out_dim)``
    with ``sign(i,j) = +/-1`` from the parity of the portable md5 hash of
    ``seed|i|j`` — the dimensionality-reduction step that shrinks an
    embedding corpus before ANN/clustering (64→16 dims = 4× less scan,
    shuffle, and cache for a bounded distance distortion).

    Returned long-form: (id, j, value). Determinism discipline: signs
    are engine-portable (md5 parity — same construction as
    ``portable_hash64``), elements are quantized to integer MICRO-UNITS
    (``round(v * 1e6)`` — a double product is never an exact .5 tie for
    grid- or float-valued inputs, so both engines round identically),
    and the signed sum + the 1/sqrt(16)=0.25 scaling run in exact
    bigint arithmetic with explicit half-away integer division — the
    same fixed-point discipline as ``graph.pagerank_fixed_point``, so a
    DuckDB oracle replays the projection EXACTLY. (For ``out_dim`` not
    a perfect square of a power of two, the scale factor is irrational
    and the final multiply falls back to double.) At production scale
    you would materialize the tiny ±1 matrix once (seed-derived,
    out_dim×in_dim entries) and do an integer numpy matmul per Arrow
    batch like ``_bucketize_portable``; both derive identical signs
    from the seed.
    """
    if dim is not None:
        # fast path: known input width → plan-time literal sign matrix;
        # zip_with's sign-array argument is evaluated once per row, only
        # the cheap multiply runs per element.
        signs = _md5_parity_signs(seed, dim, out_dim)
        sign_mat = F.array(
            *[F.array(*[F.lit(s) for s in row]) for row in signs]
        )
        micro = _lit_sign_micro_sum(
            vec_col, F.element_at(sign_mat, F.col("j") + 1)
        )
    else:
        micro = _md5_signed_micro_sum(vec_col, seed, F.col("j"))
    root = math.isqrt(out_dim)
    if root * root == out_dim:
        # exact for ANY perfect-square out_dim (r9 review: was hardcoded
        # to the one literal 16, silently sending other perfect squares
        # down the inexact double path): micro-unit sum, half-away-from-
        # zero integer division by sqrt(out_dim). For out_dim=16 this is
        # bit-identical to the original (__s + 2) DIV 4 form the
        # registered oracle replays.
        half = root // 2
        scaled = F.when(
            F.col("__s") >= 0, F.expr(f"(__s + {half}) DIV {root}")
        ).otherwise(-F.expr(f"((-__s) + {half}) DIV {root}"))
        value = (scaled.cast("double") / 1_000_000).alias("value")
    else:
        value = F.round(
            F.col("__s").cast("double") / 1_000_000 / float(out_dim) ** 0.5,
            6,
        ).alias("value")
    return (
        df.select(id_col, vec_col)
        .withColumn("j", F.explode(F.sequence(F.lit(0), F.lit(out_dim - 1))))
        .withColumn("__s", micro)
        .select(F.col(id_col), "j", value)
    )


def rrf_fuse(
    ranked: "dict[str, DataFrame]",
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 60,
    top: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion of a small fixed set of ranked retriever
    candidate lists (Cormack/Clarke/Buettcher 2009): ``score(d) =
    Σ_lists 1/(k + rank_list(d))``, the standard hybrid-retrieval
    combiner for lexical (BM25) + semantic (ANN) candidate sets.

    ``ranked`` maps a list label → DataFrame with (id_col, rank_col);
    each input must already be a top-N candidate list (the retrievers do
    the corpus-scale pruning — fusion only ever sees N·lists rows, so
    every join side here is candidate-sized and broadcast). Documents
    missing from a list contribute 0 for it, per the original formula.

    Determinism: the fused score is a FIXED ``+`` chain of coalesce terms
    in the dict's insertion order — not an aggregation — so float summation
    order is engine/partitioning-independent and a DuckDB oracle can
    hash-match (same discipline as bm25_scores). Ties break on id.
    """
    if not ranked:
        raise ValueError("rrf_fuse needs at least one ranked list")
    fused = None
    for label, df in ranked.items():
        side = df.select(
            F.col(id_col), F.col(rank_col).alias(f"rank_{label}")
        )
        # no broadcast hint: Spark can't broadcast-build a full-outer side
        # (it logs an unsupported-hint warning); both sides are ≤ top-N
        # candidate lists, so the sort-merge fallback is over tiny inputs.
        fused = side if fused is None else fused.join(
            side, on=id_col, how="full_outer"
        )
    score = None
    for label in ranked:
        term = F.coalesce(
            F.lit(1.0) / (F.lit(float(k)) + F.col(f"rank_{label}")),
            F.lit(0.0),
        )
        score = term if score is None else score + term  # fixed + chain
    fused = fused.withColumn("rrf_score", F.round(score, 6))
    w = Window.orderBy(F.col("rrf_score").desc(), F.col(id_col))
    # the window input is the union of candidate lists (≤ Σ N_list rows),
    # so the unpartitioned row_number is over a broadcast-sized set.
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top)
        .orderBy("rank")
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Contrastive hard-negative mining: for each query vector, the top-k
    most cosine-similar corpus vectors whose label DIFFERS from the
    query's — the standard negative sampler for contrastive/embedding
    training (similar content, different class ⇒ informative gradient).

    ``queries``: (query_id_col, vec_col, label_col) — the small side,
    broadcast. ``corpus``: (id_col, vec_col, label_col) — never collected.
    Same two-phase top-k shape as cosine_topk: narrow partition-local
    prune, then a per-query window over ≤ partitions·queries·k survivors.
    Self-pairs are excluded by the label filter (a query's own corpus row
    shares its label).
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            F.col(label_col).alias("q_label"),
        )
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        F.col(label_col).alias("neighbor_label"),
    )
    scored = (
        q.crossJoin(c)
        .filter(~F.col("neighbor_label").eqNullSafe(F.col("q_label")))
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            F.round(
                cosine_similarity(F.col("qv"), F.col("cv")), 6
            ).alias("cosine"),
        )
    )
    return _rank_topk(_partition_topk(scored, k), k)


def jl_sign_buckets(
    df: DataFrame,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "jl-v1",
    dim: int | None = None,
) -> DataFrame:
    """Sign-bit bucket of the fixed-point JL projection: ``bucket =
    Σ_j (s_j >= 0) << j`` over the first ``n_bits`` projected dimensions
    — a deterministic, engine-portable coarse partition of embedding
    space (vectors in the same orthant of the projected space share a
    bucket; near-duplicates almost always do).

    Entirely within-row: each bit's signed micro-unit sum is a separate
    fixed expression with its dimension index as a LITERAL, and the
    bucket is a fixed ``+`` chain — no explode, no shuffle, output is
    (input columns…, bucket). Signs/micro-units replicate
    random_projection exactly (md5-parity signs, bigint sums), so a
    DuckDB oracle replays the bucketing hash-for-hash. A given ``dim``
    is checked against the first row's vector length (one job).
    """
    lit_signs = (
        _md5_parity_signs(seed, dim, n_bits) if dim is not None else None
    )

    def micro(j: int):
        if lit_signs is not None:
            # known input width → plan-time literal signs (see
            # _md5_parity_signs): no per-element md5 at runtime.
            return _lit_sign_micro_sum(
                vec_col, F.array(*[F.lit(s) for s in lit_signs[j]])
            )
        return _md5_signed_micro_sum(vec_col, seed, j)

    bucket = None
    for j in range(n_bits):
        term = F.when(micro(j) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    bucket = bucket.cast("bigint")
    if dim is not None:
        # eager first-row width check (r9 review): with a mismatched
        # `dim` the zip_with pads the literal sign array with NULLs, the
        # NULL poisons every micro sum, and EVERY row silently lands in
        # bucket 0 — collapsing semantic_dedup into one all-pairs O(n²)
        # bucket with no visible failure. An IN-PLAN raise_error guard
        # (cumdist style) was measured and REJECTED here: any
        # raise_error in the projection knocks the stage off whole-stage
        # codegen, +0.9 s (1.4×) on the semdedup entry at sf0.1 in BOTH
        # the wrapping and additive forms. The eager check is one
        # first-row job (the mmr limit(2) precedent) and catches the
        # realistic bug class — a wrong `dim` literal against a
        # uniform-width corpus; mixed-width corruption past the first
        # row is not caught.
        row = df.select(F.size(F.col(vec_col)).alias("n")).first()
        if row is not None and row["n"] is not None and row["n"] != dim:
            raise ValueError(
                f"jl_sign_buckets: vector length {row['n']} != dim={dim}"
                " — pass the actual embedding width or omit dim"
            )
    return df.withColumn("bucket", bucket)


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    pool: int = 50,
    lambda_: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance diversified reranking (Carbonell &
    Goldstein 1998): greedily pick ``k`` of the top-``pool`` candidates,
    each step maximizing ``λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s)`` — the
    standard RAG/context-window diversifier that stops near-duplicate
    passages from crowding out coverage.

    Scale split: candidate generation (cosine_topk over the corpus) and
    BOTH similarity surfaces — relevance and the candidate×candidate
    matrix — run distributed with JVM-rounded cosines; only the
    pool-sized (id, rel) list and pool² sim matrix are collected (MODEL-
    sized, like IVF centroids — never the corpus). The greedy loop then
    compares exactly the rounded doubles a SQL engine would, so a
    recursive-CTE DuckDB oracle replays every pick including ties.
    Single-query form: ``queries`` must be one row (query_id, vec).
    """
    # the greedy loop drops query_id, so >1 query would silently merge
    # every query's candidate pool into one meaningless mixed ranking —
    # enforce the documented single-row contract loudly (r8 review);
    # limit(2) bounds the check at two rows, never a full count
    if len(queries.limit(2).take(2)) > 1:
        raise ValueError(
            "mmr_rerank is single-query: pass exactly one (query_id, vec) "
            "row; loop over queries (or pin a query_id filter) for multi-"
            "query reranking"
        )
    # persist: rel is collected below AND feeds cand, whose self-join
    # re-executes the lineage per alias — without the cache the expensive
    # corpus-wide cosine_topk scan ran ~3x per call (r8 review)
    rel = cosine_topk(
        corpus, queries, k=pool, id_col=id_col, vec_col=vec_col
    ).select(
        F.col("neighbor_id").alias("id"), F.col("cosine").alias("rel")
    ).persist()
    cand = rel.join(
        corpus.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("v")
        ),
        "id",
    )
    a, b = cand.alias("a"), cand.alias("b")
    simmat = (
        a.join(b, F.col("a.id") != F.col("b.id"))
        .select(
            F.col("a.id").alias("ida"),
            F.col("b.id").alias("idb"),
            F.round(
                cosine_similarity(F.col("a.v"), F.col("b.v")), 6
            ).alias("sim"),
        )
    )
    # NULL-scored candidates (zero-norm vectors: cosine_similarity
    # returns NULL) are dropped from the pool — their relevance is
    # undefined, and keeping None would TypeError in the greedy
    # arithmetic below (r9 review). Pool members all have non-zero
    # norms, so their pairwise sims are non-NULL by construction; the
    # `or 0.0` guards the (unreachable today) NULL pair defensively.
    rel_rows = {
        r.id: r.rel for r in rel.collect() if r.rel is not None
    }  # pool-sized
    sim_rows = {}  # pool²-sized
    for r in simmat.collect():
        sim_rows[(r.ida, r.idb)] = r.sim if r.sim is not None else 0.0
    rel.unpersist()  # both consumers drained (driver-side greedy next)
    selected: list[tuple[int, int, float]] = []
    chosen: list[int] = []
    for step in range(1, k + 1):
        best = None
        for d, r in rel_rows.items():
            if d in chosen:
                continue
            if chosen:
                score = lambda_ * r - (1.0 - lambda_) * max(
                    sim_rows[(d, s)] for s in chosen
                )
            else:
                score = r  # first pick: pure relevance (standard MMR)
            key = (-score, d)
            if best is None or key < best[0]:
                best = (key, d, r)
        if best is None:
            # fewer than k candidates survive the pool prune (tiny corpus):
            # return the shorter selection instead of crashing mid-greedy.
            break
        selected.append((step, best[1], best[2]))
        chosen.append(best[1])
    spark = corpus.sparkSession
    # doc_id inherits the corpus id column's actual type — a hardcoded
    # bigint failed at createDataFrame for string/int ids (r8 review)
    id_type = corpus.schema[id_col].dataType.simpleString()
    return spark.createDataFrame(
        selected, f"step int, doc_id {id_type}, rel_cosine double"
    )


def binary_hamming_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """1-bit binary quantization + Hamming top-k — the faiss-binary ANN
    pattern: each vector collapses to sign bits (a 64-dim float vector
    becomes 8 BYTES), distance is ``bit_count(xor)``, and candidate scan
    cost drops ~32× vs float cosine. The standard first-stage filter
    before an exact rerank at corpus scale.

    Signatures are packed into 32-bit words summed as exact bigints
    (engine-portable — a 1<<63 single-word form overflows DuckDB's
    checked shift), via zip_with against literal weight arrays — one
    narrow projection, no Python, no shuffle. Query side broadcasts;
    top-k is the shared two-phase narrow-prune + tiny-window shape.
    Ties (equal distance) break on neighbor id, so results replay
    exactly cross-engine.
    """
    if dim % 32 != 0:
        # explicit contract error (NOT assert: python -O strips asserts,
        # and a silently truncated signature returns wrong neighbors
        # with `sim = dim - dist` offset as if full-width — r9 review)
        raise ValueError(
            f"binary_hamming_topk: dim={dim} must be a multiple of 32 "
            "(signatures pack into 32-bit words)"
        )
    n_words = dim // 32

    def sig_cols(prefix: str):
        cols = {}
        for w in range(n_words):
            weights = F.array(
                *[F.lit(1 << b).cast("bigint") for b in range(32)]
            )
            word = F.aggregate(
                F.zip_with(
                    F.slice(F.col(vec_col), w * 32 + 1, 32),
                    weights,
                    lambda v, wt: F.when(
                        v.cast("double") >= 0, wt
                    ).otherwise(F.lit(0).cast("bigint")),
                ),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            )
            cols[f"{prefix}{w}"] = word
        return cols

    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col)
        ).withColumns(sig_cols("q")).drop(vec_col)
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col)
    ).withColumns(sig_cols("c")).drop(vec_col)
    dist = None
    for w in range(n_words):
        term = F.bit_count(F.expr(f"q{w} ^ c{w}"))
        dist = term if dist is None else dist + term
    scored = q.crossJoin(c).select(
        "query_id",
        "neighbor_id",
        (F.lit(dim) - dist).cast("int").alias("sim"),
    )
    ranked = _rank_topk(
        _partition_topk(scored, k, score_col="sim"), k, score_col="sim"
    )
    return ranked.select(
        "query_id",
        "neighbor_id",
        (F.lit(dim) - F.col("sim")).cast("int").alias("hamming_dist"),
        "rank",
    )
