"""Deduplication operators for large-scale training-data pipelines.

Five dedup families (north-star surface; no analog in the reference — it is
a SQL client — but first-class here):

- exact / canonical-form exact (hash groupBy)
- exact n-gram Jaccard (inverted-index join — the oracle-checkable baseline)
- MinHash + LSH banding (the 100 TB-scale candidate generation path)
- SimHash (Hamming-ball near-dup, pigeonhole block join)
- embedding-cosine near-dup (hyperplane-LSH bucketed, exact rerank)

Scale posture: nothing collects to the driver. Candidate generation is always
(a) per-row array math (no shuffle), then (b) one explode + shuffle on a
bucket/band key whose fan-out is a tunable constant, then (c) pair join +
exact verification only inside buckets. Skewed buckets (a shingle shared by
every doc) are the classic hazard → frequency-capped via ``max_bucket``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import (
    MINHASH_PRIME,
    cosine_similarity,
    hamming64,
    minhash_signatures_arrow,
    portable_hash64,
    shingle_hashes,
    vec_dot,
    vec_norm,
    word_shingles,
)
from ..sources import fan_out, plan_size_bytes


def exact_dedup(df: DataFrame, keys: list[str], id_col: str) -> DataFrame:
    """Keep one row per distinct ``keys`` (the min-``id_col`` row).

    NULL key values form their own group (SQL GROUP BY semantics), so the
    keeper join must use null-safe equality — a plain equi-join would
    silently drop every NULL-key row instead of deduping the group.

    One hash-aggregate shuffle on ``keys``; map-side partial agg makes this
    robust to duplicates skew.
    """
    keeper = df.groupBy(*keys).agg(F.min(id_col).alias(id_col))
    left, right = df.alias("l"), keeper.alias("r")
    cond = F.col(f"l.{id_col}") == F.col(f"r.{id_col}")
    for k in keys:
        cond = cond & F.col(f"l.{k}").eqNullSafe(F.col(f"r.{k}"))
    return left.join(right, on=cond, how="left_semi")


def canonical_text_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Canonical-form exact dedup: hash of the *sorted token multiset*, so
    token-permuted documents collapse to one group.

    Output: one row per doc with its canonical hash, the group keeper
    (min id), group size, and whether this row survives dedup.
    """
    df = fan_out(df)
    canon = F.md5(F.concat_ws(" ", F.array_sort(F.array_remove(F.split(F.col(text_col), r"\s+"), ""))))
    with_canon = df.select(F.col(id_col), canon.alias("canon_hash"))
    w_agg = with_canon.groupBy("canon_hash").agg(
        F.min(id_col).alias("keeper_id"), F.count("*").alias("group_size")
    )
    return (
        with_canon.join(w_agg, "canon_hash")
        .select(
            id_col,
            "canon_hash",
            "keeper_id",
            "group_size",
            (F.col(id_col) == F.col("keeper_id")).alias("is_keeper"),
        )
        .orderBy(id_col)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.5,
    max_bucket: int = 1000,
    prefix_filter: bool | str = "auto",
    persist_index: bool = True,
) -> DataFrame:
    """Exact k-gram Jaccard similarity for every document pair sharing at
    least one shingle — the inverted-index join pattern.

    Plan: shingle per doc (no shuffle) → explode → self-equi-join on shingle
    (id_a < id_b) → count shared per pair → join per-doc sizes → filter.
    The only quadratic blow-up risk is a stop-shingle appearing in a huge
    fraction of docs; ``max_bucket`` drops shingles with document frequency
    above the cap (standard practice — such shingles carry no dedup signal
    and would otherwise create O(df²) pairs on one key = worst-case skew).

    ``prefix_filter=True`` switches candidate generation to PPJoin-style
    prefix filtering (``_ngram_jaccard_prefix``): only each document's
    ``c - ceil(t*c) + 1`` globally-rarest shingles are indexed, which is
    lossless for threshold ``t`` and collapses the candidate-pair explosion
    when near-duplicate density is low — the scale path for corpora where
    the plain inverted index would emit quadratically many mid-frequency
    pairs. Identical output (pytest parity); costs two extra linear
    shuffles (df counts + per-doc rarity sort), so the plain index wins on
    small or duplicate-dense inputs.

    ``prefix_filter="auto"`` (the r11 default — VERDICT r10 task 5: the
    boolean was a silent foot-gun costing ~8× on the wrong corpus)
    picks the path in two steps: (1) the existing zero-probe plan-size
    gate — while the pair-aggregate volume model stays below the
    session's shuffle budget the corpus is below the knee, the two
    paths are tied-to-plain-faster (1× and sf0.1 both measured), and
    PLAIN is chosen with no extra jobs, keeping the bench and oracle
    plans byte-identical to the boolean-False era; (2) above the knee,
    ONE aggregate over the capped df counts yields (density,
    pair_fanout) and :func:`_prefix_auto_choice` applies the
    measured-calibration rule (prefix iff density ≤ 0.5 AND Σdf²/P ≥
    64 — see the threshold constants for the four anchoring cells).
    The read is NOT a separate pipeline: both candidate paths need the
    same per-shingle df counts (plain: the over-cap hot set; prefix:
    the rarity sort), so the decision materializes that df-count frame
    once (persisted, distinct-shingle-sized) and the chosen path
    reuses it — a standalone pre-pass would cost ~35% of the 100×
    operator (measured 7-9 s vs a 20 s main op, BASELINE.md r11); the
    shared frame reduces the measured dense-arm overhead to +14%
    (31.8 vs 27.9 s at 100×), the price of never paying the 8.5×
    wrong-path constant.

    ``persist_index``: the capped inverted index feeds THREE consumers
    (df-count branch + both self-join sides) and exchange reuse does not
    fire across the anti-join, so by default it is persisted
    (MEMORY_AND_DISK) to shingle the corpus once instead of three times
    (~25-30 % wall at sf0.1). Nothing releases it: the cached blocks stay
    until the session ends or the caller unpersists them (measured: four
    calls on distinct inputs leave four persistent RDDs, still four after
    a Python and a JVM garbage collection). Pass ``False`` on
    cache-constrained clusters or long-lived sessions where recomputing
    the narrow shingle+explode from the scan is cheaper than spilling or
    keeping an index that is several times the corpus size.
    """
    df = fan_out(df)
    def postings():
        shingled = df.select(
            F.col(id_col).alias("id"),
            word_shingles(F.col(text_col), k).alias("sh"),
        )
        # join on xxhash64(shingle), not the string: the inverted-index
        # shuffle and the pair-count hash aggregate move 8-byte keys
        # instead of k-word strings (~2-3× less shuffle volume; collision
        # odds ~2^-64 per pair). The doc's pre-cap shingle count rides
        # along (one extra long per posting) so the Jaccard denominator
        # needs NO join back to a per-doc sizes frame — the old form
        # shuffled the full pair set twice more for those joins.
        return shingled.select(
            "id",
            F.size("sh").alias("n_sh"),
            F.explode(
                F.transform("sh", lambda s: F.xxhash64(s))
            ).alias("shingle"),
        )

    if prefix_filter not in (True, False, "auto"):
        # a truthy string like 'true' (or a typo like 'atuo') would
        # otherwise fall through both exact checks into the generic
        # truthiness test below and silently pin the prefix path
        raise ValueError(
            "prefix_filter must be True, False, or 'auto'; "
            f"got {prefix_filter!r}"
        )
    if prefix_filter is True:
        # pinned by the caller: no widths probe at this level (the
        # prefix path runs its own) and no density work
        return _ngram_jaccard_prefix(
            df, id_col, text_col, k, threshold, max_bucket
        )
    # Volume-adaptive posting exchange (VERDICT r9 task 1): hash-
    # partition the postings on the join key ONCE, before the df-count
    # aggregate — the freq groupBy, the broadcast anti-join (partition-
    # preserving), the persisted index, and BOTH self-join sides then
    # reuse this single width-sized exchange instead of shuffling the
    # posting volume at the saturated session default (the r8 knee:
    # last-decade exponent 1.37 at 32 partitions vs 0.72 at 256).
    # Below the knee the plan-size gate returns None with zero probe
    # jobs — the sf0.1 bench plan is unchanged.
    width, pair_width = _token_posting_widths(df, text_col)
    dfc = None
    if prefix_filter == "auto":
        if pair_width is None:
            # below the pair-volume knee: plain's lower constant wins
            # regardless of duplicate density (1× and sf0.1 measured
            # tied-to-plain-faster) — decided with ZERO extra jobs
            prefix_filter = False
        else:
            # above the knee, the decision needs the capped-index dup
            # density — and BOTH candidate paths need the same df
            # counts anyway (plain: the over-cap hot set; prefix: the
            # rarity sort). Build dfc ONCE on the op's own posting
            # pipeline and persist it (distinct-shingle-sized — ~40 MB
            # at 500k docs, vocabulary-bounded at any corpus size), so
            # the measured 7-9 s standalone pre-pass at 100×
            # (BASELINE.md r11) collapses to one reused aggregate: the
            # chosen path reads df counts from the persisted frame
            # instead of re-running the posting groupBy.
            p0 = postings()
            if width:
                p0 = p0.repartition(width, "shingle")
            dfc = (
                p0.groupBy("shingle")
                .agg(F.count("*").alias("df_"))
                .persist()
            )
            prefix_filter = _prefix_auto_choice(
                *_prefix_auto_stats(dfc, max_bucket)
            )
            if not prefix_filter and not max_bucket:
                # auto resolved to plain and there is no hot-set
                # anti-join to feed: the persisted df-count frame has
                # no downstream consumer — release it now, or repeated
                # calls in a long-lived session accumulate cached
                # distinct-shingle-sized frames (ADVICE r11). In every
                # OTHER outcome dfc feeds the chosen path (plain's hot
                # set or prefix's rarity sort) and stays persisted: no
                # one releases it (ROADMAP direction 5).
                dfc.unpersist()
                dfc = None
    if prefix_filter:
        return _ngram_jaccard_prefix(
            df,
            id_col,
            text_col,
            k,
            threshold,
            max_bucket,
            # only the auto decision reaches here (pinned True exited
            # above): reuse its persisted df counts and probed width
            dfc=dfc,
            width=width,
        )
    inv = postings()
    if width:
        inv = inv.repartition(width, "shingle")
    if max_bucket:
        # anti-join against the OVER-cap set: hot shingles are by nature few
        # (a handful of stop-shingles), so the broadcast is tiny and stays
        # tiny at any corpus size — broadcasting the keep-set instead would
        # ship nearly the whole distinct-shingle vocabulary to every task.
        freq = (
            dfc
            if dfc is not None
            else inv.groupBy("shingle").agg(F.count("*").alias("df_"))
        )
        hot = freq.filter(F.col("df_") > max_bucket).drop("df_")
        inv = inv.join(F.broadcast(hot), "shingle", "left_anti")
    if persist_index:
        from pyspark import StorageLevel

        inv = inv.persist(StorageLevel.MEMORY_AND_DISK)
    joined = (
        inv.alias("a")
        .join(inv.alias("b"), "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
    )
    # The PAIR-aggregate exchange is the 100× knee, not the posting
    # exchange — see _PAIR_VOLUME_FACTOR for the measurement. pair_width
    # has its own volume model from the same probe, so it can fire while
    # the lighter posting exchange correctly stays at the default (the
    # measured 100× case: postings 1.66 GB < knee, pair ~8 GB > knee).
    if pair_width:
        joined = joined.repartition(
            pair_width, F.col("a.id"), F.col("b.id")
        )
    pairs = joined.groupBy(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
    ).agg(
        F.count("*").alias("shared"),
        F.first("a.n_sh").alias("n_a"),
        F.first("b.n_sh").alias("n_b"),
    )
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(
                F.col("shared")
                / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )


def _ngram_jaccard_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    threshold: float,
    max_bucket: int,
    dfc: DataFrame | None = None,
    width: "int | None | str" = "probe",
) -> DataFrame:
    """PPJoin-style prefix-filtered exact Jaccard (same output contract as
    ``ngram_jaccard_pairs``).

    Prefix principle (Chaudhuri et al. / PPJoin): under any global total
    order of tokens, two sets with overlap ≥ α must share a token within
    their first ``|x| - α + 1`` tokens. For Jaccard ≥ t the needed overlap
    satisfies α ≥ ceil(t·c_x) for both sides (via the length filter
    c_y ≥ t·c_x), so indexing each doc's first ``c - ceil(t·c) + 1``
    shingles in ascending-document-frequency order is lossless. Candidates
    then come from prefix-prefix collisions (rare shingles ⇒ few pairs),
    and the exact Jaccard is verified by one array_intersect per candidate.

    Shuffle inventory: df-count agg + df join + per-doc sort (all linear in
    postings) + tiny candidate joins — versus the plain index's O(Σ df²)
    pair stream. Denominator uses PRE-cap sizes and the intersection uses
    capped arrays, exactly like the plain path, so results match it (and
    the shared DuckDB oracle) bit-for-bit.
    """
    t = threshold
    base = df.select(
        F.col(id_col).alias("id"),
        F.transform(word_shingles(F.col(text_col), k), lambda s: F.xxhash64(s)).alias(
            "hs"
        ),
    ).withColumn("n_sh", F.size("hs"))
    post = base.select("id", "n_sh", F.explode("hs").alias("shingle"))
    # same volume-adaptive posting exchange as the plain index (VERDICT
    # r9 task 1): one width-sized hash partition on the posting key,
    # reused by the df-count aggregate, the df join, and the anti-join;
    # the auto decision passes its already-probed width through (same
    # model) so the probe's count/avg jobs run once, not twice
    if width == "probe":
        width = _token_posting_width(df, text_col)
    if width:
        post = post.repartition(width, "shingle")
    if dfc is None:
        dfc = post.groupBy("shingle").agg(F.count("*").alias("df_"))
    # else: the persisted df-count frame from the auto decision (same
    # posting pipeline, already materialized) — the rarity sort and the
    # cap anti-join read it instead of re-running the posting groupBy
    if max_bucket:
        post = post.join(
            F.broadcast(dfc.filter(F.col("df_") > max_bucket).drop("df_")),
            "shingle",
            "left_anti",
        )
    sarr = (
        post.join(dfc, "shingle")
        .groupBy("id")
        .agg(
            F.first("n_sh").alias("n_sh"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("df_", "shingle"))),
                lambda s: s["shingle"],
            ).alias("arr"),
        )
    )
    c = F.size("arr")
    plen = c - F.ceil(c * F.lit(t)) + 1
    pp = sarr.select(
        "id", c.alias("c"), F.explode(F.slice("arr", 1, plen)).alias("shingle")
    )
    cand = (
        pp.alias("a")
        .join(pp.alias("b"), "shingle")
        .filter(
            (F.col("a.id") < F.col("b.id"))
            & (F.col("b.c") >= F.lit(t) * F.col("a.c"))
            & (F.col("a.c") >= F.lit(t) * F.col("b.c"))
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sides = sarr.select("id", "n_sh", "arr")
    ver = cand.join(
        sides.withColumnsRenamed({"id": "id_a", "n_sh": "n_a", "arr": "arr_a"}), "id_a"
    ).join(
        sides.withColumnsRenamed({"id": "id_b", "n_sh": "n_b", "arr": "arr_b"}), "id_b"
    )
    inter = F.size(F.array_intersect("arr_a", "arr_b"))
    return (
        ver.select(
            "id_a",
            "id_b",
            F.round(
                inter / (F.col("n_a") + F.col("n_b") - inter).cast("double"), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )


def minhash_sides(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_perm: int = 64,
    seed: int = 1,
) -> DataFrame:
    """Per-document (id, shingle-hash set, MinHash signature) frame — the
    shared front half of LSH pair generation and the persisted index.

    Distinct reduced hashes replace shingle strings downstream: the
    exact-verify joins shuffle arrays of longs, not k-word strings (same
    Jaccard up to ~2^-31-probability collisions). The signature is computed
    map-side via the Arrow-batched numpy UDF — no row explosion, NO shuffle —
    and the frame is lazily checkpointed so banding and the verify joins
    don't each re-run shingling (3 scans otherwise). Empty-shingle docs are
    dropped (they can never be near-dups; keeping them would bucket every
    empty doc together on the sentinel signature).

    Shingles are hashed with the md5-derived ``portable_hash64``, so the
    whole pipeline (hashes → signatures → bands → exact Jaccard) is
    replayable as DuckDB SQL (the ``dedup_minhash_lsh`` oracle).

    fan_out before the kernel (r14, revisiting the r13 "neutral" A/B
    with stage evidence in hand): the fixture parquet is one row group,
    so the shingle HOFs + Arrow signature kernel ran as a SINGLE task
    (~4.8 s of the entry's executor time at sf0.1) — and because the
    lazy checkpoint does not serialize concurrent AQE stage
    materializations, TWO stages gated on it back to back. 32-way, the
    kernel is a sub-second wave and the duplicate materialization race
    costs a wave, not the whole kernel (interleaved A/B: median
    3.74 → 3.01 s on the same window).
    """
    shingled = fan_out(df).select(
        F.col(id_col).alias("id"),
        F.array_distinct(
            shingle_hashes(word_shingles(F.col(text_col), k))
        ).alias("hsh"),
    )
    return (
        shingled.filter(F.size("hsh") > 0)
        .withColumn("sig", minhash_signatures_arrow(num_perm, seed=seed)("hsh"))
        .localCheckpoint(eager=False)
    )


def minhash_band_entries(
    sides: DataFrame, num_perm: int = 64, bands: int = 16
) -> DataFrame:
    """Explode each signature into ``bands`` (band, bkey) rows — same band
    slice hash ⇒ same LSH bucket. bkey is an 8-byte xxhash64 of the slice,
    so the banding shuffle carries (long, long, id), not signature arrays."""
    if num_perm % bands != 0:
        # silently flooring rows_per_band would drop the trailing
        # num_perm % bands signature positions — computed but never
        # banded, so the effective (bands, rows) threshold curve differs
        # from what the caller tuned for (r8 review)
        raise ValueError(
            f"bands ({bands}) must divide num_perm ({num_perm}): "
            f"{num_perm % bands} signature positions would be silently "
            "unused, changing the LSH threshold curve"
        )
    rows_per_band = num_perm // bands
    # ONE SQL parse for the bands-wide struct array (r14): the Column-API
    # form built 4 py4j-round-trip nodes per band (~0.6 s of driver wall
    # at bands=32 per operator call); the parsed expression resolves to
    # the identical operators (named_struct / xxhash64 seed 42 / slice),
    # so the banding keys are unchanged.
    structs = ",".join(
        f"named_struct('band', {b}, 'bkey', "
        f"xxhash64(slice(`sig`, {b * rows_per_band + 1}, {rows_per_band})))"
        for b in range(bands)
    )
    return sides.select(
        "id", F.explode(F.expr(f"array({structs})")).alias("bk")
    ).select("id", "bk.band", "bk.bkey")


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 1,
) -> DataFrame:
    """MinHash + LSH banding candidate pairs, exact-verified.

    - signature: map-side Arrow UDF over the shingle hashes
      (``minhash_sides``), no shuffle;
    - banding: explode ``bands`` rows per doc keyed by
      (band_idx, xxhash64(band slice)) — same band+key → candidate bucket;
    - candidates: within-bucket pairs (distinct across bands);
    - verification: exact shingle Jaccard via one join back to shingle sets
      (array_intersect/array_union on the two docs' arrays — no second
      explode), filtered at ``threshold``.

    At scale: shuffle volume is bands × docs rows of (key, id) — a constant
    factor over the corpus, the canonical trade against O(n²). Returns
    (id_a, id_b, est_jaccard, jaccard ≥ threshold): ``est_jaccard`` is the
    signature-agreement estimate, ``jaccard`` the exact shingle Jaccard.
    """
    sides = minhash_sides(df, id_col, text_col, k, num_perm, seed)
    band_entries = minhash_band_entries(sides, num_perm, bands)
    # Volume-adaptive banding exchange (VERDICT r8 task 3): the banding
    # self-join shuffles ~bands × 56 B per doc (28 B serialized (band,
    # bkey, id) row, ~2× in the join sort) — far lighter per character
    # than the span postings, so this only widens past the session
    # default on corpora in the ~10M-doc class (at bands=16 / 32-wide
    # default); pre-partitioning on the bucket key also aligns both
    # self-join sides (the banding volume is exchanged once). The
    # banding volume is per-DOC, so the gate bounds it from a raw-bytes-
    # per-ROW floor — the old per-char gate (8 B/char) under-bounded
    # corpora with avg docs < bands×56/8 ≈ 112 chars, skipping the probe
    # exactly when short docs made the banding volume proportionally
    # heaviest (r10, ADVICE). The floor is 4 B/row (not the raw 16 B an
    # id+text row really occupies): plan-size estimates are FILE bytes,
    # and delta-packed ids + RLE'd near-constant texts can compress a
    # row well below its raw width — 4 B keeps the gate sound down to
    # 16× row compression (r10 review); corpora denser than that are
    # degenerate (near-identical docs) and merely probe early, which is
    # count()-only and metadata-cheap.
    width = _probed_posting_width(
        df,
        text_col,
        lambda n, avg: n * bands * 56.0,
        gate_bytes_per_char=bands * 56.0 / 4.0,
        probe_avg=False,
    )
    if width:
        band_entries = band_entries.repartition(width, "band", "bkey")

    cand = (
        band_entries.alias("a")
        .join(band_entries.alias("b"), ["band", "bkey"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    joined = (
        cand.join(sides.withColumnsRenamed({"id": "id_a", "hsh": "sh_a", "sig": "sig_a"}), "id_a")
        .join(sides.withColumnsRenamed({"id": "id_b", "hsh": "sh_b", "sig": "sig_b"}), "id_b")
    )
    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
        / F.lit(float(num_perm))
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        joined.select(
            "id_a",
            "id_b",
            F.round(est, 6).alias("est_jaccard"),
            F.round(inter / F.nullif(union.cast("double"), F.lit(0.0)), 6).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )


def build_minhash_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    seed: int = 1,
    n_files: int = 8,
) -> None:
    """Persist a MinHash-LSH dedup index for incremental ingestion: the
    per-doc frame (``docs/``: id, shingle-hash set, signature) plus the
    exploded band table (``bands/``), range-clustered on (band, bkey) so
    parquet rowgroup min/max prunes probe scans.

    Index once over the corpus; every new batch then dedups against it via
    :func:`minhash_index_probe` without re-shingling or self-joining the
    corpus — the 100 TB ingestion pattern (the IVF analog for text).
    """
    sides = minhash_sides(df, id_col, text_col, k, num_perm, seed)
    sides.write.mode("overwrite").parquet(f"{path}/docs")
    (
        minhash_band_entries(sides, num_perm, bands)
        .repartitionByRange(n_files, "band", "bkey")
        .sortWithinPartitions("band", "bkey")
        .write.mode("overwrite")
        .parquet(f"{path}/bands")
    )


def minhash_index_probe(
    spark,
    path: str,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 1,
) -> DataFrame:
    """Near-dup pairs between a new ``batch`` and an indexed corpus
    (:func:`build_minhash_index` with the SAME k/num_perm/bands/seed).

    Scale shape: the batch (small) is signed map-side and BROADCAST against
    the band table — the corpus side is scan + broadcast-hash-join + one
    broadcast join of the surviving candidates against ``docs/``; the
    indexed corpus never shuffles and is never re-shingled. Returns
    (corpus_id, batch_id, est_jaccard, jaccard ≥ threshold), exact-verified
    on the stored shingle-hash sets.
    """
    batch_sides = minhash_sides(batch, id_col, text_col, k, num_perm, seed)
    batch_bands = minhash_band_entries(batch_sides, num_perm, bands)

    idx_bands = spark.read.parquet(f"{path}/bands")
    cand = (
        idx_bands.join(
            F.broadcast(batch_bands.withColumnRenamed("id", "batch_id")),
            ["band", "bkey"],
        )
        .filter(F.col("id") != F.col("batch_id"))  # re-ingested identical ids
        .select(F.col("id").alias("corpus_id"), "batch_id")
        .distinct()
    )
    joined = (
        spark.read.parquet(f"{path}/docs")
        .withColumnsRenamed({"id": "corpus_id", "hsh": "sh_a", "sig": "sig_a"})
        .join(F.broadcast(cand), "corpus_id")
        .join(
            F.broadcast(
                batch_sides.withColumnsRenamed(
                    {"id": "batch_id", "hsh": "sh_b", "sig": "sig_b"}
                )
            ),
            "batch_id",
        )
    )
    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
        / F.lit(float(num_perm))
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        joined.select(
            "corpus_id",
            "batch_id",
            F.round(est, 6).alias("est_jaccard"),
            F.round(inter / F.nullif(union.cast("double"), F.lit(0.0)), 6).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("corpus_id", "batch_id")
    )


#: n_blocks="auto" crossover (r11): the r10 curve measured the default
#: pigeonhole blocking's random-collision term 4n²/2¹⁶ reaching
#: last-decade exponent 0.85 at 5M docs, with combination-key blocking
#: (b = d+3) crossing over at ~10-15M docs (README playbook row). 10M
#: picks the conservative end: below it the default's lower constant
#: wins; at the crossover the arms are within ~2× either way.
_SIMHASH_COMBO_DOCS = 10_000_000


def _simhash_auto_blocks(df: DataFrame, max_hamming: int):
    """None (pigeonhole default) below the measured ~10M-doc collision
    knee, ``max_hamming + 3`` combination blocks above it (d=3 → b=6,
    the measured r10 operating point: C(6,3)=20 keys/doc, 32-bit keys).
    Plan-size gate first — a 0.5 B/row floor (id bytes ÷ 16, the r10
    banding-gate discipline: parquet compresses short-doc text ~40×
    and delta-packs ids, so whole rows can land well under 4 B in the
    plan estimate — a 4 B floor would have kept a 12M-doc short-doc
    corpus on pigeonhole blocking past the measured knee, r11 review)
    proves small corpora small with ZERO jobs, so the sf* bench/oracle
    plans never pay a count; above the gate one count() (metadata-only
    on parquet scans) decides. Falls back to the pigeonhole default
    when the combination blocks would violate the ≥4-bit width guard
    (max_hamming > 13)."""
    b = max_hamming + 3
    if 64 // b < 4:
        return None
    plan = _plan_size_bytes(df)
    if plan is not None and plan < _SIMHASH_COMBO_DOCS * 0.5:
        return None
    # count() errors (bad column, broken plan) propagate: they would
    # fail the operator a few lines later anyway, and swallowing them
    # here silently downgraded the blocking decision before the real
    # failure surfaced (ADVICE r11)
    return b if df.count() >= _SIMHASH_COMBO_DOCS else None


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_blocks: "int | None | str" = "auto",
) -> DataFrame:
    """SimHash near-dup pairs within a Hamming ball of ``max_hamming``.

    Pigeonhole blocking (default): split the 64-bit signature into
    ``max_hamming + 1`` blocks; any pair within distance d ≤ max_hamming
    agrees exactly on at least one block, so an equi-join per block finds
    all such pairs with no O(n²) scan. Distance verified with
    xor+bit_count.

    ``n_blocks > max_hamming + 1`` switches to COMBINATION-KEY blocking
    (multi-index Hamming search, the public HmSearch/Norouzi shape): a
    pair within distance d differs in at most d of the b blocks, so it
    agrees on ALL blocks of at least one (b−d)-subset — keys are one
    xxhash64 per subset over that subset's block values. Same lossless
    guarantee (the default IS the b = d+1 / subset-size-1 special case,
    kept verbatim for its exact DuckDB oracle), but random collisions
    drop from n²·b/2^(64/b) to C(b, b−d)·n²/2^(64·(b−d)/b): at d=3,
    b=6 trades 4 → 20 banding rows per doc for 16-bit → 32-bit keys —
    the measured r10 cure for the quadratic knee the default hits past
    ~2M docs (BASELINE.md curve: last-decade exponent 0.85 at 5M docs,
    flat with b=6). A Spark-side xxhash64 key collision can only ADD a
    candidate (equal tuples always hash equal), and every candidate is
    exact-verified, so the output set is identical.

    Words are hashed with the 60-bit md5-derived ``portable_hash64``, so
    the operator is DuckDB-oracle-replayable (the ``dedup_simhash``
    oracle). The signature therefore has 60 live bits: bits 60-63 are
    constantly 0, so two signatures never differ there. Both blocking
    modes stay lossless: a pair within distance d differs in at most d
    blocks, whether or not a block holds dead bits.

    ``n_blocks="auto"`` (the r11 default — the README playbook row was
    a manual knob with a documented ~10-15M-doc crossover, the same
    silent-foot-gun class the r11 jaccard auto mode removed): picks the
    pigeonhole default below :data:`_SIMHASH_COMBO_DOCS` and
    ``max_hamming + 3`` combination blocks above it, deciding from the
    plan-size gate alone on small corpora (zero jobs — the bench and
    oracle plans are byte-identical to the old None default) and one
    metadata-cheap count() otherwise. Both modes emit the identical
    verified pair set (pytest-locked), so the switch is cost-only.
    """
    df = fan_out(df)
    if n_blocks == "auto":
        n_blocks = _simhash_auto_blocks(df, max_hamming)
    elif isinstance(n_blocks, str):
        # any other string would reach the `n_blocks > max_hamming + 1`
        # comparison below and die with an opaque str-vs-int TypeError
        # (ADVICE r11)
        raise ValueError(
            f"simhash_pairs: n_blocks must be an int, None, or 'auto'; "
            f"got {n_blocks!r}"
        )
    combo = n_blocks is not None and n_blocks > max_hamming + 1
    if n_blocks is not None and n_blocks <= max_hamming:
        # fewer blocks than errors: a pair at distance d can corrupt
        # EVERY block — no key subset is guaranteed clean, silent recall
        # loss
        raise ValueError(
            f"simhash_pairs: n_blocks ({n_blocks}) must exceed "
            f"max_hamming ({max_hamming}) for the pigeonhole guarantee"
        )
    if combo and 64 // n_blocks < 4:
        # upper bound (r11, ADVICE): combination blocking with
        # n_blocks > 64 gives zero-width blocks whose values are
        # constantly 0 — any all-zero-width subset collapses to ONE
        # xxhash64 key and the candidate join silently degenerates to
        # all-pairs (output still exact-verified correct, but O(n²),
        # defeating the blocking); even 17–64 blocks make sub-4-bit
        # keys whose 2^(width·subset) collision space is too dense
        # while C(b, b−d) key rows per doc explode. Keep every block
        # ≥ 4 bits, i.e. n_blocks ≤ 16. COMBO-only (r11 review): the
        # pigeonhole MINIMUM n_blocks = max_hamming + 1 also makes
        # sub-4-bit blocks once d ≥ 16, but that geometry is forced by
        # the lossless guarantee and is exactly what the DEFAULT runs
        # at such d — rejecting the explicit spelling of the default's
        # own configuration while silently executing it was incoherent.
        raise ValueError(
            f"simhash_pairs: combination blocking with n_blocks "
            f"({n_blocks}) must keep every block at least 4 bits wide "
            f"(n_blocks <= 16); narrower blocks degenerate the "
            f"candidate join toward all-pairs"
        )
    if not combo:
        n_blocks = max_hamming + 1
    width = 64 // n_blocks
    # Signature via explode + hash-aggregate (64 conditional sums) rather
    # than a scalar per-row fold: the aggregate form is codegen-friendly
    # and map-side combined — per-word rows never cross the wire, only
    # (id, 64 ints) partials do (~10× faster).
    masks = [(1 << i) if i < 63 else -(1 << 63) for i in range(64)]
    words = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_remove(F.split(F.col(text_col), r"\s+"), "")).alias("w"),
    ).withColumn("h", portable_hash64(F.col("w"))).drop("w")
    votes = words.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(m)) != 0, 1).otherwise(-1)
            ).alias(f"v{i}")
            for i, m in enumerate(masks)
        ]
    )
    packed = F.lit(0).cast("bigint")
    for i, m in enumerate(masks):
        packed = packed.bitwiseOR(
            F.when(F.col(f"v{i}") > 0, F.lit(m).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            )
        )
    # Materialize signatures once: the block self-join below would otherwise
    # re-run the whole explode + 64-aggregate pipeline for each side. One
    # row of (id, int64) per doc — tiny even at 10^10 docs spread over a
    # cluster (localCheckpoint stores per-executor, no driver collect).
    sh = votes.select("id", packed.alias("sim")).localCheckpoint(eager=True)
    # shift amounts must be Python literals (shiftright rejects Columns)
    if combo:
        # block widths as even as 64 allows (remainder spread over the
        # low blocks); the top block's arithmetic shiftright sign-extends
        # but the mask strips it
        import itertools

        base_w = 64 // n_blocks
        widths = [
            base_w + (1 if i < 64 % n_blocks else 0)
            for i in range(n_blocks)
        ]
        offs = [sum(widths[:i]) for i in range(n_blocks)]

        def block_val(i: int):
            return F.shiftright(F.col("sim"), offs[i]).bitwiseAND(
                F.lit((1 << widths[i]) - 1)
            )

        subsets = list(
            itertools.combinations(range(n_blocks), n_blocks - max_hamming)
        )
        entries = [
            F.struct(
                F.lit(sid).alias("block"),
                F.xxhash64(
                    F.lit(sid), *[block_val(i) for i in subset]
                ).alias("bkey"),
            )
            for sid, subset in enumerate(subsets)
        ]
    else:
        entries = [
            F.struct(
                F.lit(b).alias("block"),
                F.shiftright(F.col("sim"), b * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("bkey"),
            )
            for b in range(n_blocks)
        ]
    blocks = sh.select(
        "id",
        "sim",
        F.explode(F.array(*entries)).alias("bk"),
    ).select("id", "sim", "bk.block", "bk.bkey")
    return (
        blocks.alias("a")
        .join(blocks.alias("b"), ["block", "bkey"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming64(F.col("a.sim"), F.col("b.sim")).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("id_a", "id_b")
    )


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """C4-style global exact line dedup: every distinct line is kept only
    at its FIRST corpus occurrence (minimal (doc id, position)); later
    occurrences are dropped and each document is reassembled from its
    surviving lines in original order. The classic boilerplate-removal
    pass of web-scale training corpora (C4 applied it to three-sentence
    spans; the unit here is the ``sep``-delimited line).

    Output: (id, n_lines, n_kept, text_dedup); documents whose every line
    first appeared elsewhere come back with n_kept=0 and empty text.

    Plan: one posexplode (narrow) → first-occurrence agg on the line key
    (map-side combinable min(struct(id, pos))) → postings join back on the
    line → per-doc reassembly agg. Three shuffles total, all keyed — no
    driver-side state. Skew note: a mega-duplicated boilerplate line puts
    its whole posting list in one reduce partition; AQE skew-join handles
    the join side, and at 100 TB the line key would be an 8-byte hash
    (kept as the raw string here so the DuckDB oracle can replay exactly).
    """
    df = fan_out(df)
    # F.split interprets its pattern as a Java regex while the
    # array_join reassembly below uses ``sep`` literally — so a
    # metacharacter separator ('|', '.', paragraph markers) would split
    # between every character and reassemble garbage (r8 review).
    # re.escape emits Java-regex-compatible escapes, making both ends
    # agree on the LITERAL separator.
    import re

    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), re.escape(sep))).alias(
            "pos", "line"
        ),
    )
    first = lines.groupBy("line").agg(F.min(F.struct("id", "pos")).alias("k"))
    kept = lines.join(first, "line").filter(
        (F.col("id") == F.col("k.id")) & (F.col("pos") == F.col("k.pos"))
    )
    per_doc = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias("text_dedup"),
        F.count("*").alias("n_kept"),
    )
    # per-doc line totals as a NARROW projection, not a groupBy over the
    # exploded posting volume: size(split(...)) is exactly the posexplode
    # row count, so this both removes one keyed shuffle AND keeps
    # NULL-text documents in the output (they emit no posting rows, so
    # the old aggregate silently dropped them; they now report
    # n_lines=0 like the docstring's all-lines-deduped case — r10
    # review).
    totals = df.select(
        F.col(id_col).alias("id"),
        F.when(F.col(text_col).isNull(), F.lit(0).cast("bigint"))
        .otherwise(
            F.size(F.split(F.col(text_col), re.escape(sep))).cast("bigint")
        )
        .alias("n_lines"),
    )
    return (
        totals.join(per_doc, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_lines",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
        )
        .orderBy(id_col)
    )


def _pointer_jump(stepped: DataFrame) -> DataFrame:
    """The Shiloach-Vishkin shortcut as one patchable unit: label(v) ←
    min(label1, label(label1)) over a frame carrying (id, label0,
    label1). label1 is always some node's id (labels start as ids and
    min only moves between them) and label(x) ≤ x, so the looked-up
    llabel can only lower label1. Returns (id, label, changed). Split
    out (r11) so the mixed-graph A/B (BASELINE.md r11) could time plain
    propagation by patching this with the identity projection — the
    jump costs one label-keyed self-join per round, and the A/B records
    when its O(log diameter) round saving pays for that."""
    lab_map = stepped.select(
        F.col("id").alias("lid"), F.col("label1").alias("llabel")
    )
    return stepped.join(
        lab_map, F.col("label1") == F.col("lid"), "left"
    ).select(
        "id",
        F.least(
            F.col("label1"),
            F.coalesce(F.col("llabel"), F.col("label1")),
        ).alias("label"),
        (
            F.least(
                F.col("label1"),
                F.coalesce(F.col("llabel"), F.col("label1")),
            )
            < F.col("label0")
        ).alias("changed"),
    )


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over a duplicate-pair graph → dedup groups.

    Pair lists (from MinHash/SimHash/cosine) only say "a ~ b"; deduping a
    corpus needs the transitive closure: each doc labeled with its group's
    min id (the canonical keeper). Label propagation on DataFrames:
    each round sets label(v) = min(label(v), min over neighbors' labels)
    and then POINTER-JUMPS label(v) ← label(label(v)) — the classic
    Shiloach-Vishkin shortcut, sound because labels only ever take node-id
    values and never exceed their own node (label(x) ≤ x), so the jump can
    only lower a label toward the component min. Convergence is
    O(log diameter) rounds instead of O(diameter): a 1000-hop chain (the
    shape overlapping-window chunk dedup genuinely produces) closes in
    ~10 rounds where plain propagation needed 1000 (r10; the default
    max_iterations=20 now covers diameter ~2^20 instead of 20).

    Each round is three keyed shuffles (edge join + min-agg + the jump's
    label-keyed self-join). Near-dup graphs are overwhelmingly tiny
    cliques/chains, so 2-3 rounds typically suffice; the loop exits early
    on convergence (count of changed labels == 0 — a cheap action on the
    aggregated frame, not a collect of labels). The fixpoint argument is
    unchanged: the loop exits only when a FULL round (neighbor-min AND
    jump) changed nothing, which forces label equality across every edge
    — constant per component, hence the component min.

    Lineage across rounds must be cut (else round N re-executes the whole
    upstream pair generation N times). Default is ``localCheckpoint`` —
    executor-local blocks, fine in local mode but lost with an executor on
    a real cluster (the truncated lineage cannot recompute them). Pass
    ``checkpoint_dir`` for the long-running-cluster path: reliable
    ``checkpoint()`` to that fault-tolerant directory (HDFS/object store),
    surviving executor loss mid-iteration.
    """
    spark = pairs.sparkSession
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def _materialize(df: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    edges = _materialize(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id"))
    )
    n_changed = 0
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = (
            labels.withColumnRenamed("label", "label0")
            .join(neighbor_min, F.col("id") == neighbor_min.src, "left")
            .select(
                "id",
                "label0",
                F.least(
                    F.col("label0"),
                    F.coalesce(F.col("nbr_label"), F.col("label0")),
                ).alias("label1"),
            )
        )
        new_labels = _materialize(_pointer_jump(stepped))  # cut lineage per round
        n_changed = new_labels.filter("changed").count()
        labels = new_labels.drop("changed")
        if n_changed == 0:
            break
    if n_changed != 0:
        # a dup graph with diameter > ~2^max_iterations exits here with
        # labels still mid-propagation — one group reported as several.
        # Silent would be the same wrong-groups class the rest of the
        # module guards loudly; warn (don't raise: the labels ARE a
        # valid partial refinement, and callers may cap rounds on
        # purpose for latency).
        import warnings

        warnings.warn(
            f"dedup_clusters: label propagation did not converge within "
            f"max_iterations={max_iterations} ({n_changed} labels still "
            "changing) — components wider than the jumped reach are "
            "split; raise max_iterations for full transitive closure",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(
        F.col("id"), F.col("label").alias("group_id")
    ).orderBy("id")


#: Tile/auto-block constants for _cosine_pairs_blocked (r12 ANN spill
#: audit): the dominant per-group allocation is the float64 sims matrix
#: — at 200k vectors the old fixed B=8 made 25k×25k sims = 5 GB per
#: group and the kernel OOM-killed the session JVM with 32 Python
#: workers at ~5.9 GB RSS each (dmesg-confirmed). Two mechanisms now
#: bound it (r12 review hardening):
#:
#: - the KERNEL tiles both sides of each block-pair matmul at
#:   ``_COSINE_BLOCK_ROWS`` rows, so sims ≤ 6k×6k×8 B = 288 MB per
#:   worker regardless of block size — memory safety no longer depends
#:   on the block count being guessed right;
#: - ``n_blocks=None`` still auto-sizes blocks toward tile-sized groups
#:   for parallelism, but capped at ``_COSINE_MAX_BLOCKS``: the
#:   block-pair assignment inlines B² struct literals into the plan and
#:   shuffles ~B·n vector replicas, so unbounded B (ceil(n/6k) = 1667
#:   at 10M rows → 2.8M plan literals, 1667 corpus copies) would hang
#:   analysis long before any task ran. At the cap, groups exceed one
#:   tile and the kernel's tiling loop carries the memory bound.
#:
#: The zero-job plan-size gate keeps tiny corpora on the default 8; its
#: floor is the PESSIMISTIC 0.5 B/row the simhash gate already uses
#: (parquet dict/RLE-compresses replicated vectors far below raw width —
#: the first cut's 64 B/row floor would have let a compressed 200k-row
#: scan estimate slide under, and the measured 284 B/row cached estimate
#: under a flat 64 MB byte gate DID exactly that). Above the gate, ONE
#: count() (trivial next to the O(n²) matmul) sizes the blocks.
_COSINE_BLOCK_ROWS = 6_000
_COSINE_GATE_ROWS = 48_000
_COSINE_MAX_BLOCKS = 64


def _cosine_auto_blocks(df: DataFrame) -> int:
    """Block count for the all-pairs matmul: default 8 with ZERO jobs
    while the plan-size gate proves the corpus small; above the gate one
    count() sizes blocks toward tile-sized groups, capped at
    ``_COSINE_MAX_BLOCKS`` (the kernel's tiling keeps memory bounded
    past the cap)."""
    plan = _plan_size_bytes(df)
    if plan is not None and plan < _COSINE_GATE_ROWS * 0.5:
        return 8
    return min(
        _COSINE_MAX_BLOCKS,
        max(8, -(-df.count() // _COSINE_BLOCK_ROWS)),
    )


def _cosine_pairs_blocked(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_blocks: int | None = None,
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold, fully distributed: block-partitioned
    matrix product. Nothing is materialized on the driver.

    Rows hash into ``n_blocks`` blocks; each of the n_blocks·(n_blocks+1)/2
    unordered block pairs becomes one ``applyInPandas`` group that BLAS-
    multiplies its two row blocks and emits only thresholded (id_a, id_b,
    cosine) pairs (id_a < id_b; each unordered id pair lands in exactly one
    block pair, so no dedup pass is needed).

    Scale accounting: shuffle volume is ≈ (n_blocks+1)·|corpus| vector
    replicas — the standard exact-all-pairs trade (vs a broadcast that caps
    the corpus at driver/executor memory). Per-group memory is dominated by
    the (rows/n_blocks)² float64 sims matrix, so ``n_blocks=None`` (the
    default) sizes blocks to ≈``_COSINE_BLOCK_ROWS`` rows via
    :func:`_cosine_auto_blocks` — zero extra jobs below the plan-size
    gate, one count() above it (negligible next to the O(n²) work this
    operator exists to do). The r12 spill audit found the old fixed
    default 8 fatal at 200k vectors (5 GB sims per group × 32 workers).
    Compute is the unavoidable O(n²) dot products, done in vectorized
    BLAS rather than per-pair JVM lambdas (interpreted CodegenFallback,
    ~100× slower).
    """
    import numpy as np
    import pandas as pd

    if n_blocks is None:
        n_blocks = _cosine_auto_blocks(df)
    id_t = df.schema[id_col].dataType.simpleString()
    data = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("blk"),
    )

    # Replicate each row to its block pairs with one narrow explode (a row in
    # block p is side 'a' of pairs (p, p..B-1) and side 'b' of (0..p-1, p)) —
    # one scan + exactly one shuffle (the groupBy below), vs join-based
    # replication which scans the corpus twice and shuffles twice.
    def assignments(p: int):
        return F.array(
            *[
                F.struct(
                    F.lit(p).alias("ba"), F.lit(b).alias("bb"), F.lit("a").alias("side")
                )
                for b in range(p, n_blocks)
            ],
            *[
                F.struct(
                    F.lit(a).alias("ba"), F.lit(p).alias("bb"), F.lit("b").alias("side")
                )
                for a in range(p)
            ],
        )

    assign = assignments(n_blocks - 1)
    for p in range(n_blocks - 1):
        assign = F.when(F.col("blk") == p, assignments(p)).otherwise(assign)
    both = data.select("id", "v", F.explode(assign).alias("t")).select(
        "t.ba", "t.bb", "t.side", "id", "v"
    )

    def _norm_rows(part: pd.DataFrame):
        ids = part["id"].to_numpy()
        mat = np.stack(part["v"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0.0] = np.inf  # zero vectors match nothing
        return ids, mat / norms

    def one_block_pair(key, pdf: pd.DataFrame) -> pd.DataFrame:
        ba, bb = key
        a = pdf[pdf["side"] == "a"]
        b = a if ba == bb else pdf[pdf["side"] == "b"]
        if len(a) == 0 or len(b) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        a_ids, a_mat = _norm_rows(a)
        b_ids, b_mat = (a_ids, a_mat) if ba == bb else _norm_rows(b)
        # tile BOTH sides at _COSINE_BLOCK_ROWS: the sims allocation is
        # then ≤ 6k×6k×8 B = 288 MB per worker no matter how large the
        # group — memory safety is the kernel's invariant, not a
        # property of the caller having picked enough blocks (r12
        # review; the un-tiled form at B=8 / 200k rows allocated 5 GB
        # per group and OOM-killed the session JVM). Same arithmetic
        # per element, so values are unchanged; only emission order
        # within the group differs and callers sort.
        t = _COSINE_BLOCK_ROWS
        outs = []
        for i0 in range(0, len(a_ids), t):
            ai_ids = a_ids[i0 : i0 + t]
            ai_mat = a_mat[i0 : i0 + t]
            for j0 in range(0, len(b_ids), t):
                bj_ids = b_ids[j0 : j0 + t]
                sims = ai_mat @ b_mat[j0 : j0 + t].T
                np.round(sims, 6, out=sims)
                keep = sims >= threshold
                if ba == bb:
                    keep &= ai_ids[:, None] < bj_ids[None, :]
                ai, bi = np.nonzero(keep)
                if len(ai):
                    lo = np.minimum(ai_ids[ai], bj_ids[bi])
                    hi = np.maximum(ai_ids[ai], bj_ids[bi])
                    outs.append(
                        pd.DataFrame(
                            {"id_a": lo, "id_b": hi, "cosine": sims[ai, bi]}
                        )
                    )
        if not outs:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        return pd.concat(outs)

    out = both.groupBy("ba", "bb").applyInPandas(
        one_block_pair, schema=f"id_a {id_t}, id_b {id_t}, cosine double"
    )
    return out.orderBy("id_a", "id_b")


def _cosine_pairs_matmul(
    df: DataFrame, id_col: str, vec_col: str, threshold: float
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold: broadcast normalized corpus matrix
    + per-partition BLAS block matmul. Emits (id_a, id_b, cosine) with
    id_a < id_b, cosine rounded to 6. Only for corpora that fit a driver
    broadcast — kept as the reference that ``_cosine_pairs_blocked`` (what
    ``embedding_cosine_pairs`` runs) is tested against: both produce
    identical values (same numpy normalization/round path)."""
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    pdf = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).toPandas()
    ids = pdf["id"].to_numpy()
    mat = np.stack(pdf["v"].to_numpy()).astype(np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0.0] = np.inf  # zero vectors match nothing
    matn = mat / norms
    bc = spark.sparkContext.broadcast((ids, matn))

    def block(it):
        b_ids, b_mat = bc.value
        for batch in it:
            a_ids = batch["id"].to_numpy()
            a_mat = np.stack(batch["v"].to_numpy()).astype(np.float64)
            a_norms = np.linalg.norm(a_mat, axis=1, keepdims=True)
            a_norms[a_norms == 0.0] = np.inf
            sims = (a_mat / a_norms) @ b_mat.T
            np.round(sims, 6, out=sims)
            ai, bi = np.nonzero((sims >= threshold) & (a_ids[:, None] < b_ids[None, :]))
            yield pd.DataFrame(
                {"id_a": a_ids[ai], "id_b": b_ids[bi], "cosine": sims[ai, bi]}
            )

    out = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).mapInPandas(
        block, schema=f"id_a {df.schema[id_col].dataType.simpleString()}, "
        f"id_b {df.schema[id_col].dataType.simpleString()}, cosine double"
    )
    return out.orderBy("id_a", "id_b")


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    n_planes: int = 0,
    seed: int = 7,
    n_blocks: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs with cosine ≥ threshold.

    ``n_planes == 0`` (default): exact all-pairs via the distributed
    block-partitioned BLAS matmul (``_cosine_pairs_blocked``) — no driver-
    side materialization, scales to any corpus that fits the cluster.
    ``n_blocks=None`` auto-sizes the block count so the per-group sims
    matrix stays bounded (see ``_cosine_auto_blocks`` — the r12 spill
    audit found the old fixed 8 fatal at 200k vectors); pass an int to
    pin it.

    ``n_planes > 0``: random-hyperplane LSH — bucket by the sign-bit
    signature, pair only within buckets (near-identical vectors collide
    with high probability), then exact cosine rerank. The planes and
    buckets are :func:`similarity.lsh_ann_topk`'s: one table of
    md5-parity planes seeded ``f"lsh-v1|{seed}"``
    (:func:`similarity.lsh_parity_planes`) and exact integer sign sums
    (:func:`similarity._bucketize_portable`, one numpy matmul per Arrow
    batch). ``dim`` (vector length) avoids a driver-side probe of the
    first row; callers that know the schema should pass it.

    NULL embeddings are DROPPED up front (same contract as
    minhash_sides' empty-shingle drop): a NULL vector can never be a
    near-dup, and letting it through used to kill the whole job inside
    the numpy kernels (np.stack over a batch containing None — r10
    review) instead of excluding one meaningless row.
    """
    df = df.filter(F.col(vec_col).isNotNull())
    if not n_planes:
        return _cosine_pairs_blocked(
            df, id_col, vec_col, threshold, n_blocks=n_blocks
        )
    from .similarity import _bucketize_portable, lsh_parity_planes

    if dim is None:  # fallback probe — one tiny driver action
        probe = df.select(vec_col).first()
        if probe is None:
            raise ValueError(
                "embedding_cosine_pairs: no non-NULL embeddings to probe "
                "vector dimensionality from — pass dim= explicitly for "
                "empty/all-NULL inputs"
            )
        dim = len(probe[0])
    planes = lsh_parity_planes(dim, n_planes, 1, f"lsh-v1|{seed}")
    vecs = _bucketize_portable(
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")),
        "id",
        "v",
        planes,
    ).drop("table").withColumn("nrm", vec_norm(F.col("v")))
    joined = vecs.alias("a").join(vecs.alias("b"), ["bucket"])

    dot = F.aggregate(
        F.zip_with(
            F.col("a.v"), F.col("b.v"), lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = F.round(
        dot / F.nullif(F.col("a.nrm") * F.col("b.nrm"), F.lit(0.0)), 6
    )
    pairs = (
        joined.filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .orderBy("id_a", "id_b")
    )
    return pairs


#: Target post-shuffle payload per partition for posting-shaped
#: exchanges (matches AQE's advisoryPartitionSizeInBytes default).
_POSTING_BYTES_PER_PARTITION = 64 << 20

#: Upper clamp for derived shuffle widths — far above any local run,
#: sane on a 1000-executor cluster.
_MAX_POSTING_WIDTH = 4096


#: One shared implementation since r14 (sources.plan_size_bytes); the
#: underscored alias stays for this module's many call sites.
_plan_size_bytes = plan_size_bytes


#: Upper bound on how much smaller than raw character count a text
#: column's plan-time size estimate can plausibly be: columnar cache
#: compression measured ~6×, parquet text compression ~40× on the
#: synthetic fixture. Used only as a cheap gate — when even this
#: pessimistic inflation stays under the session's shuffle budget, the
#: corpus is provably below the knee and no probe action runs at all.
_MAX_TEXT_COMPRESSION = 64


def _session_shuffle_default(df: DataFrame) -> int:
    try:
        return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return 200  # Spark's own default


def _width_for_bytes(posting_bytes: float, default: int) -> int | None:
    width = min(
        int(posting_bytes / _POSTING_BYTES_PER_PARTITION) + 1,
        _MAX_POSTING_WIDTH,
    )
    # NOT rounded up to a full task wave: an interleaved min-of-4 A/B at
    # the 100× cipher corpus (ngram_jaccard, width 48 vs 64 vs 96 vs
    # off) measured NO difference outside host noise — wave-quantization
    # loss is below the noise floor on this workload, so the simpler
    # exact-volume width stands (BASELINE.md round-10 notes).
    return width if width > default else None


def _probed_widths(
    src: DataFrame,
    text_col: str,
    posting_bytes_list,
    gate_bytes_per_char: float,
    probe_avg: bool = True,
) -> list:
    """One corpus probe, several volume models: returns a width (or
    None) per entry of ``posting_bytes_list``. ``gate_bytes_per_char``
    must upper-bound the LARGEST model per raw char for the zero-probe
    gate to be sound. Shared body of :func:`_probed_posting_width` and
    :func:`_token_posting_widths` (r10: the pair exchange needs its own
    width from the same probe — two separate calls would run the
    count/avg jobs twice)."""
    default = _session_shuffle_default(src)
    plan = _plan_size_bytes(src)
    budget = default * _POSTING_BYTES_PER_PARTITION
    if (
        plan is not None
        and plan * _MAX_TEXT_COMPRESSION * gate_bytes_per_char <= budget
    ):
        return [None] * len(posting_bytes_list)
    try:
        n = src.count()
        if n == 0:
            return [None] * len(posting_bytes_list)
        if probe_avg:
            row = (
                src.select(F.length(F.col(text_col)).alias("l"))
                .limit(50_000)
                .agg(F.avg("l").alias("a"))
                .first()
            )
            avg = float(row["a"] or 0.0)
        else:
            avg = 0.0
    except Exception:
        return [None] * len(posting_bytes_list)
    return [
        _width_for_bytes(pb(n, avg), default) for pb in posting_bytes_list
    ]


def _probed_posting_width(
    src: DataFrame,
    text_col: str,
    posting_bytes,
    gate_bytes_per_char: float,
    probe_avg: bool = True,
) -> int | None:
    """Volume-adaptive shuffle width for posting-shaped exchanges
    (VERDICT r8 task 3), from a measured corpus probe: ``posting_bytes``
    maps (n_docs, avg_chars) to the exchange's estimated in-memory
    working-set bytes; the result targets ~64 MB per partition, clamped
    to ``_MAX_POSTING_WIDTH``, and None (keep the session default plan)
    when the volume doesn't exceed it.

    Probe cost: ``count()`` (metadata-only on parquet scans, O(1) on
    cached inputs — but a FULL plan execution on uncached derived
    inputs: callers feeding large transformed corpora should persist
    them first, as the stress protocol does) + ``avg(length(text))``
    over a 50k-row prefix LIMIT whose LocalLimit stops every partition
    early. Gate first, probe second: when even ``plan_size ×
    _MAX_TEXT_COMPRESSION × gate_bytes_per_char`` fits the session's
    shuffle budget (default_partitions × 64 MB), the corpus is provably
    below the r8 knee (fixed 32 partitions spill; last-decade exponent
    1.37 vs 0.72 at 256) and NO probe action runs — the sf0.1 bench
    path keeps today's plan exactly, with zero added jobs.
    ``gate_bytes_per_char`` must upper-bound posting_bytes per raw text
    character for the gate to be sound. A session-wide AQE
    initialPartitionNum=1024 was measured and rejected in favor of this
    (1.1-1.2× tax on the posting-heavy bench queries — BASELINE.md r9
    notes).

    ``probe_avg=False`` is the per-DOC volume-model mode (banding-style
    exchanges whose bytes depend only on row count): the probe is a bare
    ``count()`` — metadata-only on parquet scans, no avg-length job —
    and ``gate_bytes_per_char`` should be derived from a raw-bytes-per-
    ROW floor (e.g. posting_bytes_per_doc / 16 for an 8-byte id plus
    minimal text overhead, with margin for sub-byte row compression in
    the plan estimate) rather than an avg-doc-length assumption, which
    under-bounds short-doc corpora in the unsafe direction (r10,
    ADVICE)."""
    return _probed_widths(
        src, text_col, [posting_bytes], gate_bytes_per_char, probe_avg
    )[0]


def _span_posting_width(
    src: DataFrame, text_col: str, bytes_per_char: float = 144.0
) -> int | None:
    """Width for the span-posting exchange: one (id, hash) row per
    CHARACTER — 16 B serialized, ~48 B/row of join-sort working set
    (UnsafeRow layout + sort pointers). The default is 144 = 3 × 48
    (r11 spill audit): the stage this width actually bounds is the
    self-JOIN stage, which holds BOTH sorted join sides PLUS the pair
    partial-aggregate hash map in the same task memory — the 48 B
    one-side model left 12.5 GB of measured spill at 100× (width 107);
    144 (width 319) measured ZERO spill on every stage, won all three
    interleaved A/B reps (min 31.2 vs 32.4 s) and collapsed the draw
    spread 12 s → 4 s (spill-sensitivity removed — BASELINE.md r11).
    Plan-size alone underestimates text volume badly (columnar cache
    compresses the 100× stress corpus 1 GB chars → 154 MB; parquet
    ~40×), hence the measured probe — see
    :func:`_probed_posting_width`."""
    return _probed_posting_width(
        src,
        text_col,
        lambda n, avg: n * avg * bytes_per_char,
        gate_bytes_per_char=bytes_per_char,
    )


#: prefix_filter="auto" decision thresholds (r11, VERDICT r10 task 5).
#: TWO statistics, both from ONE aggregate over the capped df counts:
#:
#: - density = 1 − distinct/total postings: fraction of posting mass
#:   that repeats an already-seen shingle. HIGH density means docs
#:   share most of their shingles — the duplicate-dense regime where
#:   prefix filtering cannot prune (true near-dups collide on their
#:   RARE shingles too) and pays array_intersect per candidate:
#:   measured 8.5× plain at 100× cipher (density 0.8955, BASELINE r11).
#: - pair_fanout = Σdf²/P, the posting-weighted mean df: how many pair
#:   rows the plain index emits PER POSTING — plain's actual cost
#:   model. Density alone cannot see this: two corpora with density
#:   0.17 differ 6× in plain's pair mass when their mid-frequency df
#:   is 150 vs 1000, and the r11 calibration cells measured plain
#:   WINNING 2.6× at fanout ≈25 while losing at fanout ≈150 — a
#:   density-only rule picks prefix in both.
#:
#: Rule: prefix iff density ≤ 0.5 AND pair_fanout ≥ 64. The fanout arm
#: keeps plain when the pair stream is cheap (its per-pair-row cost
#: measured ~60× below prefix's per-posting sarr/verify constant); the
#: density arm keeps plain on dup-dense corpora even at huge fanout
#: (500-replica boilerplate groups read fanout ≈500 but density ≈1 —
#: prefix would pay the same quadratic candidates PLUS verification).
_PREFIX_AUTO_DENSITY = 0.5
_PREFIX_AUTO_PAIR_FANOUT = 64.0


def _prefix_auto_stats(dfc: DataFrame, max_bucket: int) -> tuple:
    """(density, pair_fanout) from a per-shingle df-count frame, over
    shingles with document frequency ≤ ``max_bucket`` (over-cap stop
    shingles are dropped by both candidate paths, so they must not vote
    here — a handful of boilerplate shingles would otherwise read as
    "dup dense" AND as huge fanout). One aggregate; (None, None) when
    the capped index is empty."""
    capped = dfc.filter(F.col("df_") <= max_bucket) if max_bucket else dfc
    row = capped.agg(
        F.sum("df_").alias("p"),
        F.count(F.lit(1)).alias("d"),
        F.sum(
            F.col("df_").cast("double") * F.col("df_").cast("double")
        ).alias("s2"),
    ).first()
    total = row["p"] or 0
    if not total:
        return None, None
    return 1.0 - (row["d"] or 0) / total, (row["s2"] or 0.0) / total


def _ngram_index_stats(
    df: DataFrame,
    text_col: str,
    k: int,
    max_bucket: int,
) -> tuple:
    """Standalone (density, pair_fanout) of the capped inverted index —
    the diagnostic twin of the in-operator decision (which reuses the
    operator's own persisted df counts instead of this separate
    pipeline). Postings are NOT per-doc-deduped: df counts are raw
    posting counts, duplicates within a doc included — matching both
    operator candidate paths, which index the same raw posting stream
    (ADVICE r11: the old id_col parameter implied a per-doc dedup that
    never happened). No LIMIT/sample bias — a row-prefix sample
    under-counts repeats of groups spread across the corpus (each group
    member lands in the sample alone → density collapses toward 0 and
    auto would mis-pick prefix on a dup-dense corpus)."""
    post = df.select(
        F.explode(
            F.transform(
                word_shingles(F.col(text_col), k), lambda s: F.xxhash64(s)
            )
        ).alias("shingle")
    )
    dfc = post.groupBy("shingle").agg(F.count("*").alias("df_"))
    return _prefix_auto_stats(dfc, max_bucket)


def _ngram_dup_density(
    df: DataFrame,
    text_col: str,
    k: int,
    max_bucket: int,
) -> float | None:
    """Duplicate-shingle density of the CAPPED inverted index:
    ``1 − distinct_shingles / total_postings`` (see
    :func:`_ngram_index_stats` for the sampling and per-doc-dedup
    caveats)."""
    return _ngram_index_stats(df, text_col, k, max_bucket)[0]


def _prefix_auto_choice(density, pair_fanout) -> bool:
    """The prefix/plain rule on the two statistics — see
    :data:`_PREFIX_AUTO_DENSITY` / :data:`_PREFIX_AUTO_PAIR_FANOUT`
    for the measured calibration."""
    return (
        density is not None
        and density <= _PREFIX_AUTO_DENSITY
        and pair_fanout is not None
        and pair_fanout >= _PREFIX_AUTO_PAIR_FANOUT
    )


def _prefix_auto_decision(
    df: DataFrame,
    text_col: str,
    k: int,
    max_bucket: int,
) -> bool:
    """True → take the PPJoin prefix path. Gate first (zero extra jobs
    below the knee — the sf0.1 bench/oracle plans stay identical to the
    pre-auto default), the two-statistic read second; see the
    ``prefix_filter="auto"`` docstring on :func:`ngram_jaccard_pairs`
    and the threshold constants for the measured regimes."""
    _, pair_width = _token_posting_widths(df, text_col)
    if pair_width is None:
        # pair stream provably fits the session's shuffle budget: the
        # corpus is below the knee where plain's lower constant wins
        # regardless of duplicate density (1× and sf0.1 measurements)
        return False
    return _prefix_auto_choice(
        *_ngram_index_stats(df, text_col, k, max_bucket)
    )


#: Working-set multiple of the PAIR/co-occurrence exchange over the
#: posting exchange for the inverted-index pair operators (one row per
#: shared token per pair, Σ df² shaped). Measured r10 on the 100× cipher
#: corpus: posting volume 1.66 GB (below the 2 GB knee — posting width
#: correctly None) while explicitly widening the pair aggregate to
#: 128-256 partitions (≈8 GB working set) cut the operator 36.3→27.6 s
#: (interleaved min-of-3, reproduced twice) — the pair stream, not the
#: postings, is the 100× knee. 6.0 ≈ the measured 5× with margin; the
#: factor also scales the zero-probe gate so it stays a sound upper
#: bound for the larger volume.
_PAIR_VOLUME_FACTOR = 6.0

#: A/B switch for the containment posting-exchange placement (see the
#: call site in ngram_containment_pairs) — shipped True; False restores
#: the posting-width placement for interleaved same-session arms.
_POSTINGS_AT_PAIR_WIDTH = True


def _token_posting_widths(
    src: DataFrame,
    text_col: str,
    bytes_per_token: float = 56.0,
    chars_per_token: float = 5.0,
    pair_factor: float = _PAIR_VOLUME_FACTOR,
) -> tuple:
    """(posting_width, pair_width) for a token-grained inverted-index
    pair operator, from ONE corpus probe: the posting model per
    :func:`_token_posting_width`, the pair model ``posting ×
    pair_factor``. Either may be None (below its knee).

    ``pair_factor`` defaults to the jaccard-measured
    :data:`_PAIR_VOLUME_FACTOR`; operators whose pair stream is
    structurally larger pass their own (containment: 12.0 — r11
    wire-measured 10.4× at 100×, see the call site). The zero-probe
    gate scales with the factor so it stays a sound upper bound."""
    w = _probed_widths(
        src,
        text_col,
        [
            lambda n, avg: n * (avg / chars_per_token) * bytes_per_token,
            lambda n, avg: (
                n * (avg / chars_per_token) * bytes_per_token
                * pair_factor
            ),
        ],
        gate_bytes_per_char=(
            bytes_per_token / chars_per_token * pair_factor
        ),
    )
    return w[0], w[1]


def _token_posting_width(
    src: DataFrame,
    text_col: str,
    bytes_per_token: float = 56.0,
    chars_per_token: float = 5.0,
) -> int | None:
    """Width for TOKEN/SHINGLE-grained posting exchanges (VERDICT r9
    task 1 — the span/minhash width mechanism extended to the remaining
    inverted-index paths): one posting row per ~``chars_per_token`` raw
    characters (avg English word ≈ 5 chars incl. separator — the floor,
    not the mean, so short-token text widens earlier, never later), each
    costing ~``bytes_per_token`` in the join-sort working set (id 8 B +
    hash/count 8 B + key 8 B + UnsafeRow/sort overhead — same 56 B/row
    constant measured for the banding exchange; token-STRING keys pass
    64). The gate bound is ``bytes_per_token / chars_per_token`` per raw
    char, a true upper bound whenever tokens average ≥ chars_per_token
    characters; below-the-knee corpora (the sf0.1 bench tables) pass the
    plan-size gate and run ZERO probe jobs — plans unchanged."""
    return _probed_posting_width(
        src,
        text_col,
        lambda n, avg: n * (avg / chars_per_token) * bytes_per_token,
        gate_bytes_per_char=bytes_per_token / chars_per_token,
    )


#: Rolling-hash parameters (mod 2^64 via numpy uint64 wraparound): odd
#: multiplier so B is invertible mod 2^64, letting the O(len) prefix-sum
#: formulation below recover every window hash without a sequential scan.
_ROLL_B = 1000003


def _rolling_span_postings(
    df: DataFrame, id_col: str, text_col: str, span: int
) -> DataFrame:
    """O(len)-per-doc span-window posting generation via a polynomial
    rolling hash in an Arrow-batched ``mapInPandas`` kernel.

    The JVM formulation (``transform(sequence, substr(t, i, span))``)
    materializes and hashes O(len·span) characters per document — 32×
    the document bytes at span=32. This kernel touches each character
    once: with prefix sums S_i = Σ_{j≤i} c_j·B^(-j) (mod 2^64, numpy
    uint64 wraparound; B odd ⇒ invertible), every window hash is
    H(i..e) = (S_e − S_{i−1})·B^e = Σ c_j·B^(e−j) — all cumsum/cumprod
    vectorized, no per-character Python. Emits per-doc-UNIQUE ``(id, g)``
    postings (np.unique inside the kernel), which makes the downstream
    global DISTINCT shuffle unnecessary — one full O(corpus-chars)
    shuffle removed vs the JVM path. Hash domain is the full 64 bits;
    two distinct windows collide with probability ~n²/2^65 (checked
    end-to-end by the raw-substring oracle at all test scales).

    Windows are CHARACTER-based (utf-32 code points), matching
    ``substr`` semantics in the JVM path and the oracle's ``substr``.
    """
    import pandas as pd

    id_field = df.schema[id_col]
    out_schema = f"id {id_field.dataType.simpleString()}, g bigint"

    def gen(batches):
        import numpy as np

        for pdf in batches:
            ids, gs = [], []
            for did, t in zip(pdf["id"].values, pdf["t"].values):
                u = rolling_window_hashes(t, span, unique=True)
                if len(u) == 0:
                    continue
                gs.append(u)
                ids.append(np.full(len(u), did))
            if gs:
                yield pd.DataFrame(
                    {"id": np.concatenate(ids), "g": np.concatenate(gs)}
                )

    narrow = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    return narrow.mapInPandas(gen, out_schema)


def rolling_window_hashes(t, span: int, unique: bool = False):
    """Pure kernel: int64 polynomial hash of every ``span``-char window
    of ``t`` (utf-32 code points), position-independent — equal window
    CONTENT ⇒ equal hash anywhere in any document. O(len): prefix sums
    S_i = Σ c_j·B^(−j) mod 2^64 (numpy uint64 wraparound; B odd ⇒
    invertible), window hash H(i..e) = (S_e − S_{i−1})·B^e. With
    ``unique=True`` returns the sorted distinct hashes (what the posting
    kernel emits). Property-tested against the direct per-window
    Σ c_j·B^(e−j) definition in tests/test_properties.py."""
    import numpy as np

    if t is None or len(t) < span:
        return np.empty(0, dtype=np.int64)
    b = np.uint64(_ROLL_B)
    bi = np.uint64(pow(_ROLL_B, -1, 1 << 64))
    c = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(
        np.uint64
    )
    n = len(c)
    # powers of B and B^{-1} mod 2^64 (cumprod wraps)
    pw = np.ones(n, dtype=np.uint64)
    pw[1:] = np.cumprod(np.full(n - 1, b, dtype=np.uint64))
    ipw = np.ones(n, dtype=np.uint64)
    ipw[1:] = np.cumprod(np.full(n - 1, bi, dtype=np.uint64))
    s = np.cumsum(c * ipw)  # S_i, wraps mod 2^64
    win = s[span - 1:].copy()
    win[1:] -= s[: n - span]
    h = (win * pw[span - 1:]).view(np.int64)
    return np.unique(h) if unique else h


def shared_span_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span: int = 32,
    max_postings: int = 0,
    rolling: bool = False,
) -> DataFrame:
    """Exact long-common-substring duplicate detection at window granularity.

    Two documents share a common substring of length >= ``span`` iff they
    share at least one exact ``span``-char window — so an inverted index on
    hashed char windows detects Lee-et-al-style substring duplication
    (train-data memorization spans) with NO false negatives at the window
    size, without building a distributed suffix array. Returns
    ``(id_a, id_b, n_shared_windows)`` with ``id_a < id_b``.

    Plan: narrow char-window explode (O(total chars) posting rows, 8-byte
    hashed keys), DISTINCT (doc, window) postings, self-equi-join on the
    window hash, pair aggregate. ``max_postings > 0`` drops windows that
    occur in more than that many docs via the same broadcast anti-join cap
    as :func:`ngram_jaccard_pairs` — boilerplate banners otherwise create
    quadratic pair blow-up; dropped windows are the corpus-wide-common
    ones, which are boilerplate by construction, not memorization spans.
    Window hashes are internal: the oracle compares pair counts against
    exact raw substrings. ``rolling=True`` switches posting generation
    from the JVM xxhash64 windows to the O(len) Arrow-batched rolling-hash
    kernel (:func:`_rolling_span_postings`) — same output pairs/counts,
    32× less hash work and one less shuffle (the kernel emits
    per-doc-unique postings, so no global DISTINCT). (No fan_out: the
    kernel's own volume-adaptive posting exchange already widens the
    heavy phase — an up-front repartition measured NEGATIVE at sf0.1,
    r13.)
    """
    # Volume-adaptive posting partitioning (VERDICT r8 task 3): one
    # (id, g) row per character — at 100× the sf0.1 cipher fixture that
    # is ~150M rows, which saturates a fixed 32-partition exchange
    # (r8 measured last-decade exponent 1.37 vs 0.72 at 256 partitions).
    # Hash-partitioning by the join key "g" at a width derived from the
    # corpus volume both fixes the width AND aligns the layout with
    # every downstream consumer: the DISTINCT (ClusteredDistribution on
    # (id, g) — satisfied by hash on the subset {g}, so the JVM path's
    # dedup aggregate runs WITHOUT its own exchange; r9 review caught
    # the original after-distinct placement, which left the saturated
    # exchange in place and added a second full shuffle), the
    # hot-window groupBy("g"), and BOTH self-join sides — the posting
    # volume is exchanged exactly once. Small corpora (derived width <=
    # session default) keep today's plan exactly, with zero probe
    # actions — see _span_posting_width.
    width = _span_posting_width(df, text_col)
    if rolling:
        # Still no fan_out (r14, re-measured with stage evidence): the
        # single-row-group fixture pins the rolling-hash kernel to ONE
        # task and the posting subtree materializes under FOUR concurrent
        # AQE stages (hot count ×2 via the per-side broadcasts, both
        # self-join sides — exchange reuse does not consolidate them),
        # so the kernel executes 4×. But the raced copies run
        # wall-CONCURRENT on idle cores, and isolated-session A/Bs read
        # the fanned-out variant ~0.25 s WORSE (med 2.57 vs 2.29 s at
        # sf0.1) — the 4 round-robin exchanges of corpus text cost more
        # than the serial kernel they relieve. At warehouse layouts the
        # scan is already wide and fan_out would no-op anyway. Per-task
        # shuffle bytes of the posting self-join measured UNIFORM
        # (~1 MB/task, no skew — the r13 c8-vs-c32 anomaly was window
        # noise, not a hot key; plans/r14 notes).
        posting = _rolling_span_postings(df, id_col, text_col, span)
        # kernel emits per-doc-unique postings: no DISTINCT to align with
        if width:
            posting = posting.repartition(width, "g")
    else:
        t = F.col(text_col)
        grams = F.when(
            F.length(t) >= span,
            F.transform(
                F.sequence(F.lit(1), F.length(t) - (span - 1)),
                lambda i: F.xxhash64(t.substr(i, F.lit(span))),
            ),
        ).otherwise(F.array().cast("array<bigint>"))
        posting = df.select(
            F.col(id_col).alias("id"), F.explode(grams).alias("g")
        )
        if width:
            posting = posting.repartition(width, "g")
        posting = posting.distinct()
    release = None
    if max_postings > 0:
        from pyspark import StorageLevel

        # the posting index feeds THREE consumers (hot-window count + both
        # self-join sides); without a persist the posting subtree
        # re-executes for each — measured 2x wall on the capped JVM path
        # at sf0.1, and still a ~10% win over recompute for the cheap
        # rolling kernel. Cache it once; ~16 bytes/row, far smaller than
        # the corpus text it derives from. (A groupBy+collect_list
        # in-group pair-generation shape that removes the self-join was
        # measured SLOWER at the 10x boilerplate stress — 9.0s vs 6.3s —
        # because 13.7M mostly-singleton collect_list groups plus nested
        # struct-array explode cost more than the extra equi-join
        # shuffle; the streaming self-join stays.)
        posting = posting.persist(StorageLevel.MEMORY_AND_DISK)
        # NOT eagerly filled (r14, measured): the four consumer subtrees
        # materialize as CONCURRENT AQE stages and race the lazy cache
        # fill (the stage profile showed the kernel + parquet read
        # executing 4×, 10 MB input on each of four stages, persist in
        # place) — but the raced copies run concurrently, so an eager
        # count() that serializes the fill ahead of the query measured
        # WORSE (med 3.07 vs 2.71 s interleaved at sf0.1). The wasted
        # CPU is bounded by the kernel; on wide warehouse scans the
        # fill completes in one wave and the race window is negligible.
        release = posting.unpersist
        hot = (
            posting.groupBy("g")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > max_postings)
            .select("g")
        )
        posting = posting.join(F.broadcast(hot), "g", "left_anti")
    a = posting.alias("a")
    b = posting.alias("b")
    out = (
        a.join(b, "g")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_windows"))
    )
    if release is not None:
        # callers can unpersist the posting cache after their action
        out.release_cache = release
    return out


def blocked_fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_exprs: list,
    max_edit: int = 1,
) -> DataFrame:
    """Blocked record linkage: candidate pairs share at least one
    blocking key (caller-chosen expressions — prefix, length, phonetic,
    …), then exact Levenshtein filtering at ``max_edit``. The classic
    scale shape for fuzzy matching: the quadratic pair space is pruned
    to within-block pairs BEFORE any edit-distance work, and multiple
    blocking passes (union, deduped) recover pairs a single key would
    miss — no all-pairs join ever forms. Returns
    ``(id_a, id_b, edit_dist)`` with ``id_a < id_b``.
    """
    if not block_exprs:
        raise ValueError(
            "blocked_fuzzy_pairs: block_exprs is empty — at least one "
            "blocking expression is required (an empty list would mean "
            "an all-pairs O(n²) join, which this operator exists to avoid)"
        )
    out = None
    for expr in block_exprs:
        a = df.select(
            F.col(id_col).alias("id_a"),
            F.col(text_col).alias("t_a"),
            expr.alias("blk"),
        )
        b = df.select(
            F.col(id_col).alias("id_b"),
            F.col(text_col).alias("t_b"),
            expr.alias("blk"),
        )
        pairs = (
            a.join(b, "blk")
            .filter(F.col("id_a") < F.col("id_b"))
            .select(
                "id_a", "id_b",
                F.levenshtein("t_a", "t_b").alias("edit_dist"),
            )
            .filter(F.col("edit_dist") <= max_edit)
        )
        out = pairs if out is None else out.unionAll(pairs)
    return out.dropDuplicates(["id_a", "id_b"])


def semdedup_jl(
    df: DataFrame,
    threshold: float = 0.2,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: str = "jl-v1",
    dim: int | None = None,
    pairs_only: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023 shape):
    coarse-partition embedding space, then drop every document that has a
    more-canonical (lower-id) within-partition neighbor above a cosine
    threshold. Here the partition is the deterministic fixed-point JL
    sign-bucket (similarity.jl_sign_buckets) instead of a fitted k-means
    — same pruning effect (near-dups co-bucket), but seed-derived,
    model-free, and exactly replayable by a SQL oracle.

    Scale posture: the bucket equi-join bounds pair fan-out to within-
    bucket candidates (2^n_bits partitions; raise n_bits as the corpus
    grows — expected bucket size, not corpus size, drives cost). The
    exact cosine runs JVM-side on each candidate pair; no all-pairs, no
    driver state. Returns one row per DROPPED doc: (id, bucket,
    keeper_id = smallest same-bucket neighbor over threshold, n_dups,
    max_cosine).
    """
    df = fan_out(df)
    from .similarity import jl_sign_buckets

    b = jl_sign_buckets(
        df.select(id_col, vec_col), n_bits=n_bits, id_col=id_col,
        vec_col=vec_col, seed=seed, dim=dim,
    )
    a = b.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        "bucket",
    )
    c = b.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        "bucket",
    )
    pairs = (
        a.join(c, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "bucket",
            "id_a",
            "id_b",
            F.round(
                cosine_similarity(F.col("va"), F.col("vb")), 6
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
    if pairs_only:
        # the raw co-bucket near-dup pair set (bucket, id_a, id_b,
        # cosine) — the recall-eval surface (r13): scoring the bucket
        # partition's candidate pairs against the exact all-pairs truth
        # measures what JL sign-bucketing loses to bucket splits
        return pairs
    return (
        pairs.groupBy("id_b", "bucket")
        .agg(
            F.min("id_a").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_dups"),
            F.max("cosine").alias("max_cosine"),
        )
        .select(
            F.col("id_b").alias(id_col),
            "bucket",
            "keeper_id",
            "n_dups",
            "max_cosine",
        )
        .orderBy(id_col)
    )


def source_overlap_matrix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
    n: int = 5,
) -> DataFrame:
    """Cross-source content-overlap matrix: for every source pair (a < b),
    the number of DISTINCT word n-grams both feeds contain — the
    dataset-card drill-down that says WHICH feeds share content (mirrors,
    syndication, common boilerplate), and roughly how much, without
    waiting for a full pairwise dedup.

    Shape: shingle narrowly per doc (word_shingles — no shuffle), reduce
    to DISTINCT (gram-hash, source) BEFORE the join — collapsing
    within-source repeats bounds the self-join fan-out at
    sources-per-gram (≤ #sources), never docs-per-gram — then one
    hash-keyed self-join and a source-pair aggregate. Output ≤ sources²
    rows, model-sized; gram hashes are 8-byte xxhash64 like the
    ngram-Jaccard index.
    """
    df = fan_out(df)
    hs = df.select(
        F.col(source_col).alias("source"),
        F.explode(
            F.transform(
                word_shingles(F.col(text_col), n), lambda s: F.xxhash64(s)
            )
        ).alias("g"),
    )
    # Volume-adaptive posting exchange (the span/token-path mechanism):
    # the pre-distinct posting stream is the ONLY corpus-proportional
    # stage here (post-distinct volume is capped at |vocab|×sources and
    # the pair aggregate at sources²), so it is the one exchange that
    # can knee. Hash on {g} (subset of the distinct keys) satisfies the
    # DISTINCT's ClusteredDistribution AND pre-aligns both self-join
    # sides — one width-sized exchange total. Measured r10: sub-linear
    # through 100× at the default width (last-decade exp ≤0.77,
    # BASELINE.md), so the gate returns None with zero probe jobs at
    # every tested scale; the width is the ≥1000× safety rail.
    width = _token_posting_width(df, text_col)
    if width:
        hs = hs.repartition(width, "g")
    hs = hs.distinct()
    a, b = hs.alias("a"), hs.alias("b")
    return (
        a.join(b, "g")
        .filter(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
        .orderBy("source_a", "source_b")
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    max_bucket: int = 1000,
) -> DataFrame:
    """TF-IDF-weighted lexical cosine similarity for document pairs
    sharing at least one informative token — the soft-dedup complement
    to n-gram Jaccard: token-order-free, and rare-term matches count
    for more than boilerplate overlap (idf weighting), so it catches
    templated rewrites Jaccard misses.

    Plan: one tokenize+explode → (doc, token, tf) aggregate; token df in
    a second keyed agg; tokens with df > ``max_bucket`` dropped via a
    tiny broadcast anti-join (stop-token skew cap — their idf ≈ 0
    anyway); inverted-index self-join on the token; per-pair dot product
    and per-doc norms summed as DECIMAL(38,10) fixed-point so the float
    accumulation order can never flip a 6-decimal digit cross-engine.
    (No fan_out here: measured NEGATIVE at sf0.1 — the tokenize is cheap
    and the posting self-join already re-exchanges everything.)
    """
    from .textstats import TOKEN_PATTERN

    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit(TOKEN_PATTERN), 0
            )
        ).alias("token"),
    )
    # NO volume-adaptive widths here — a measured r10 NEGATIVE result
    # (interleaved min-of-2 A/Bs at the 300× cipher corpus, 1.5M docs,
    # both arms printing their computed widths): the r9-era probed
    # posting width (85 at 300×) costs 1.4× (239 s vs 171 s unwidened),
    # and adding the jaccard-style pair width (510) on top reads 230 s —
    # the regression is the widening itself, not the pair exchange.
    # Below 300× the plan-size gate returned None, so the shipped width
    # had never actually fired in any green measurement; the "knee" a
    # first 300× curve showed (last-decade exponent 0.92) WAS the width
    # regression — the unwidened curve reads 0.62 → 0.72 per decade,
    # no knee through 300×. Mechanism difference vs the span/jaccard
    # wins: tfidf's token exchanges compress far below the 64 B/row
    # model (short tokens, lz4) and AQE already right-sizes the reduce
    # side, so extra width only buys task overhead and lost map-side
    # combine. Details in BASELINE.md round-10 correction #2.
    tf = toks.groupBy("id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_"))
    if max_bucket:
        hot = dfreq.filter(F.col("df_") > max_bucket).select("token")
        tf = tf.join(F.broadcast(hot), "token", "left_anti")
        dfreq = dfreq.filter(F.col("df_") <= max_bucket)
    n_docs = df.select(F.col(id_col)).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "id",
            "token",
            (
                F.col("tf")
                * F.log(F.col("n") / F.col("df_").cast("double"))
            ).alias("w"),
        )
    )
    norms = w.groupBy("id").agg(
        F.sqrt(
            F.sum((F.col("w") * F.col("w")).cast("decimal(38,10)")).cast(
                "double"
            )
        ).alias("norm")
    )
    a = w.withColumnsRenamed({"id": "id_a", "w": "w_a"})
    b = w.withColumnsRenamed({"id": "id_b", "w": "w_b"})
    dots = (
        a.join(b, "token")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.sum(
                (F.col("w_a") * F.col("w_b")).cast("decimal(38,10)")
            )
            .cast("double")
            .alias("dot")
        )
    )
    na = norms.withColumnsRenamed({"id": "id_a", "norm": "norm_a"})
    nb = norms.withColumnsRenamed({"id": "id_b", "norm": "norm_b"})
    return (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("dot")
                / F.nullif(
                    F.col("norm_a") * F.col("norm_b"), F.lit(0.0)
                ),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .orderBy("id_a", "id_b")
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    threshold: float = 0.8,
    max_bucket: int = 1000,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT ``|A∩B| / |A|`` for ordered pairs
    sharing a shingle — the subset-document detector. Jaccard misses a
    short doc quoted inside a long one (union dominates); containment of
    the smaller side ≈ 1 flags exactly that: concatenations, quoted
    replies, boilerplate-wrapped reposts.

    Same inverted-index shape as ngram_jaccard_pairs (hashed shingles,
    hot-shingle broadcast-anti-join cap); one extra projection emits BOTH
    directions of each unordered pair, so the output row (id_a, id_b)
    means "fraction of id_a's shingles contained in id_b".
    """
    df = fan_out(df)
    shingled = df.select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col), k).alias("sh"),
    )
    inv = shingled.select(
        "id",
        F.size("sh").alias("n_sh"),
        F.explode(
            F.transform("sh", lambda s: F.xxhash64(s))
        ).alias("shingle"),
    )
    # volume-adaptive posting exchange, shared with ngram_jaccard_pairs
    # (VERDICT r9 task 1): one width-sized partition on the join key,
    # reused by the df-count agg, the anti-join, and both join sides.
    # pair_factor 12.0, NOT the shared 6.0 (r11, VERDICT r10 task 4):
    # the wire measurement (tools/measure_shuffle_bytes.py, 100× cipher,
    # 500k docs) read the containment pair exchange at 10.4× its posting
    # exchange (3 824 MB / 368 MB; 253M partial rows) vs jaccard's 6.3×
    # on the same corpus — the "shared factor carries margin" claim the
    # old comment made was wrong by 1.7×, under-widening exactly the
    # exchange the r10 A/B showed matters. 12.0 = the structural 2×
    # (both directions emitted) over jaccard's measured 6.0, with the
    # same margin-over-measurement discipline (10.4 measured).
    width, pair_width = _token_posting_widths(
        df, text_col, pair_factor=12.0
    )
    # postings exchanged at PAIR-width granularity, not posting width
    # (r11 spill measurement): the pair stream's map-side partial
    # aggregate runs at the granularity of THIS upstream exchange, and
    # at 100× the 253M-row pair map spilled 13.4 GB across 32 tasks
    # even with the pair exchange itself widened (jaccard's 127M rows
    # fit — containment's 2× stream is past the per-task boundary).
    # The posting stream is only ~368 MB wire at that scale, so the
    # wider exchange is nearly free while splitting the join-output
    # hash state pair_width ways. A/B'd at 100×: see BASELINE.md r11.
    # (_POSTINGS_AT_PAIR_WIDTH exists only so the A/B can flip the
    # placement inside one session — both arms the real operator.)
    posting_w = (pair_width if _POSTINGS_AT_PAIR_WIDTH else None) or width
    if posting_w:
        inv = inv.repartition(posting_w, "shingle")
    if max_bucket:
        freq = inv.groupBy("shingle").agg(F.count("*").alias("df_"))
        hot = freq.filter(F.col("df_") > max_bucket).drop("df_")
        inv = inv.join(F.broadcast(hot), "shingle", "left_anti")
    joined = (
        inv.alias("a")
        .join(inv.alias("b"), "shingle")
        .filter(F.col("a.id") != F.col("b.id"))
    )
    if pair_width:
        joined = joined.repartition(
            pair_width, F.col("a.id"), F.col("b.id")
        )
    pairs = joined.groupBy(
        F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")
    ).agg(
        F.count("*").alias("shared"),
        F.first("a.n_sh").alias("n_a"),
    )
    return (
        pairs.select(
            "id_a",
            "id_b",
            F.round(
                F.col("shared") / F.nullif(
                    F.col("n_a").cast("double"), F.lit(0.0)
                ),
                6,
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
        .orderBy("id_a", "id_b")
    )
