"""Text analysis operators: token stats, quality scoring, language ID,
document fingerprinting.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM-side,
codegen) — string/array ops over the documents table. The per-row cost is
O(len(text)); there is no shuffle in any of these transforms, so they
pipeline with the scan at any scale. r13 optimization round: each
transform first applies ``sources.fan_out`` — on the single-row-group
bench inputs the scan is ONE task and the O(len) per-row work serialized
on one core (measured 2-3.5× whole-query cost on the text entries); at
scale the input is already wide and fan_out is a no-op.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import rolling_fingerprint
from ..sources import fan_out

#: Minimal per-language stopword lists (public knowledge). Deliberately tiny —
#: this is an n-gram/stopword *heuristic* language-ID, not a trained model.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "los"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "que"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "im", "ein"],
    "zh": ["的", "了", "是", "在", "我", "有", "和", "就", "不", "人"],
}

#: BPE-ish tokenizer regex: words, numbers, or single non-space symbols —
#: a deterministic public-knowledge approximation of subword pre-tokenization.
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _words(text: Column) -> Column:
    # empty tokens removed: surrounding whitespace must not mint phantom
    # '' words (skews counts/ratios; r8 review). Oracle twins mirror via
    # list_filter(regexp_split_to_array(...), x -> x <> '').
    return F.array_remove(F.split(text, r"\s+"), "")


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace + regex token counts, char count, average word length."""
    df = fan_out(df)
    t = F.col(text_col)
    words = _words(t)
    regex_tokens = F.regexp_count(t, F.lit(TOKEN_PATTERN))
    return df.withColumns(
        {
            "n_words": F.size(words),
            "n_tokens": regex_tokens,
            "n_chars_calc": F.length(t),
            "avg_word_len": F.round(
                F.length(F.regexp_replace(t, r"\s+", ""))
                / F.nullif(F.size(words).cast("double"), F.lit(0.0)),
                6,
            ),
        }
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document-quality features + composite score in [0, 1].

    Features (all cheap, public-recipe): length band, punctuation ratio,
    uppercase ratio, stopword fraction, mean word length band. The composite
    is a fixed linear blend — intended as a filterable signal, not a model.
    """
    df = fan_out(df)
    t = F.col(text_col)
    words = _words(t)
    n_words = F.size(words).cast("double")
    n_chars = F.length(t).cast("double")
    punct_ratio = F.length(F.regexp_replace(t, r"[^.!?,;:]", "")) / F.nullif(
        n_chars, F.lit(0.0)
    )
    upper_ratio = F.length(F.regexp_replace(t, r"[^A-Z]", "")) / F.nullif(
        n_chars, F.lit(0.0)
    )
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    stop_ratio = F.size(
        F.filter(words, lambda w: F.array_contains(en_stop, F.lower(w)))
    ) / F.nullif(n_words, F.lit(0.0))
    length_ok = (n_words >= 10) & (n_words <= 10000)
    score = (
        F.when(length_ok, F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when(punct_ratio <= 0.2, F.lit(0.2)).otherwise(F.lit(0.0))
        + F.when(upper_ratio <= 0.3, F.lit(0.2)).otherwise(F.lit(0.0))
        # NULL stop_ratio (zero-word or NULL text) earns ZERO credit:
        # least() skips NULLs, so the raw form granted such docs the full
        # 0.2 — boosting whitespace-only garbage past real low-quality
        # prose in any threshold filter (r9 review; DuckDB twin guarded
        # identically)
        + F.when(stop_ratio.isNull(), F.lit(0.0)).otherwise(
            F.least(stop_ratio * 2, F.lit(0.2))
        )
    )
    return df.withColumns(
        {
            "punct_ratio": F.round(punct_ratio, 6),
            "upper_ratio": F.round(upper_ratio, 6),
            "stopword_ratio": F.round(stop_ratio, 6),
            "quality": F.round(score, 6),
        }
    )


#: Extra public function words per language for the char-n-gram profiles
#: ONLY (articles/prepositions/pronouns — standard public lists, still
#: deliberately tiny). Kept separate from STOPWORDS: the stopword method
#: and its generated DuckDB twins (and quality_score's stopword_ratio)
#: are calibrated against those exact 10-word lists, so enriching them
#: would ripple through every oracle; the n-gram profiles are a
#: different feature space and want the accent/digraph coverage
#: ('über', 'más', 'où') the 10-word lists lack.
#: 'und' floor for the char_ngram method (ADVICE r12): latin nonsense
#: shares enough single-char grams with every latin profile to score
#: ~0.08-0.11 on SOME language, so the all-zero 'und' test alone minted
#: confident-looking labels for garbage. The top-two score GAP separates
#: cleanly where the top score and gram coverage do not (measured on the
#: planted-truth set + junk probes: real text in all five languages —
#: including inflected forms and unsegmented Chinese, whose ABSOLUTE
#: score is only ~0.14 because profiles cover few han chars — has
#: margin ≥ 0.068; latin nonsense / digits / base64 / mixed junk has
#: margin ≤ 0.033). Floor 0.04: the r13 planted-truth A/B (BASELINE.md)
#: measured a clean short es sentence at margin 0.044 that a 0.05 floor
#: wrongly routed to 'und', while every junk probe stays ≤ 0.033 —
#: 0.04 admits real text down to margin 0.044 with clearance over the
#: junk ceiling.
CHAR_NGRAM_UND_MARGIN = 0.04

_NGRAM_EXTRA_WORDS: dict[str, list[str]] = {
    "en": ["was", "not", "with", "this", "are", "on", "as", "at", "by",
           "from", "but", "they", "you", "we", "have", "his", "her"],
    "es": ["del", "las", "con", "para", "una", "su", "al", "lo", "como",
           "más", "pero", "sus", "ya", "este", "porque", "entre", "sí"],
    "fr": ["dans", "pour", "par", "sur", "avec", "au", "aux", "ce",
           "cette", "ne", "pas", "plus", "mais", "où", "être", "sont",
           "elle"],
    "de": ["über", "während", "nicht", "auch", "auf", "für", "sich",
           "dem", "des", "eine", "als", "aber", "nach", "bei", "aus",
           "wenn", "noch"],
    "zh": ["这", "中", "为", "上", "个", "时", "会", "可以", "没有",
           "自己", "他们", "我们", "到", "说", "着", "也", "很"],
}


def _lang_ngram_profiles() -> "dict[str, dict[str, float]]":
    """Per-language character 1–3-gram profiles derived from the
    STOPWORDS lists plus :data:`_NGRAM_EXTRA_WORDS` (the Cavnar–Trenkle
    n-gram-profile recipe applied to tiny public function-word lists —
    no new data, fully deterministic): each word is padded with spaces
    and sliced into 1/2/3-grams, and each gram is weighted by
    1 / (number of language profiles containing it), so cross-language
    grams (' e', latin letters) contribute a shared baseline while
    language-unique grams ('der', 'ás', 'ü', '的') carry full
    discriminative weight."""
    from collections import Counter

    grams: dict[str, set[str]] = {lang: set() for lang in STOPWORDS}
    for lang in STOPWORDS:
        for w in STOPWORDS[lang] + _NGRAM_EXTRA_WORDS.get(lang, []):
            s = f" {w.lower()} "
            for n in (1, 2, 3):
                grams[lang].update(
                    s[i : i + n] for i in range(len(s) - n + 1)
                )
    share = Counter(g for gs in grams.values() for g in gs)
    return {
        lang: {g: round(1.0 / share[g], 6) for g in sorted(gs)}
        for lang, gs in grams.items()
    }


def _lang_rank_output(
    df: DataFrame,
    scores: list,
    with_margin: bool,
    *drop_cols: str,
    und_margin: float = 0.0,
) -> DataFrame:
    """Shared argmax/margin tail of both lang_id methods: rank the
    (score, lang) structs desc-by-score / asc-by-lang, emit lang_pred
    ('und' when every score is zero, or when the top-two score gap is
    below ``und_margin``), lang_score, and optionally the runner-up +
    margin. ``und_margin`` is the char_ngram garbage floor (ADVICE r12:
    shared single-char grams give nonsense text nonzero scores, so an
    all-zero test alone let a nonsense-only doc classify as 'fr' at
    0.117); lang_score keeps the raw top score either way so the
    confidence signal survives the routing decision."""
    # array_max on (score, lang) structs: max score, then max lang — to get
    # the *alphabetically first* among ties we compare on (score, reversed
    # rank) instead: sort desc by score then asc by lang via array_sort.
    ranked = F.array_sort(
        F.array(*scores),
        lambda a, b: F.when(a["score"] > b["score"], F.lit(-1))
        .when(a["score"] < b["score"], F.lit(1))
        .otherwise(
            F.when(a["lang"] < b["lang"], F.lit(-1))
            .when(a["lang"] > b["lang"], F.lit(1))
            .otherwise(F.lit(0))
        ),
    )
    best = F.element_at(ranked, 1)
    gap = F.coalesce(F.element_at(ranked, 1)["score"], F.lit(0.0)) - F.coalesce(
        F.element_at(ranked, 2)["score"], F.lit(0.0)
    )
    out = df.withColumns(
        {
            "lang_pred": F.when(
                (best["score"] > 0) & (gap >= F.lit(und_margin)),
                best["lang"],
            ).otherwise(F.lit("und")),
            "lang_score": F.round(F.coalesce(best["score"], F.lit(0.0)), 6),
        }
    )
    if with_margin:
        second = F.element_at(ranked, 2)
        out = out.withColumns(
            {
                "lang_pred2": F.when(
                    second["score"] > 0, second["lang"]
                ).otherwise(F.lit("und")),
                "lang_margin": F.round(
                    F.coalesce(best["score"], F.lit(0.0))
                    - F.coalesce(second["score"], F.lit(0.0)),
                    6,
                ),
            }
        )
    return out.drop(*drop_cols)


def lang_id(
    df: DataFrame,
    text_col: str = "text",
    with_margin: bool = False,
    method: str = "char_ngram",
    key_col: str | None = None,
) -> DataFrame:
    """Language ID over the STOPWORDS languages; two methods (r12).

    ``method="char_ngram"`` (VERDICT r11 task 8; the DEFAULT since r13,
    decided by measurement — VERDICT r12 task 5): character 1–3-gram
    profile scoring (Cavnar–Trenkle shape) with profiles derived from
    the same stopword lists (:func:`_lang_ngram_profiles`) —
    ``score(lang) = Σ_g w_lang(g) over the doc's grams / n_grams``,
    accumulated in exact DECIMAL(28,10) so the total is order-free and
    DuckDB-replayable. Substring evidence rather than exact tokens:
    inflections that CONTAIN a function-word gram ('hunde' → 'und')
    still vote, and unsegmented Chinese scores through its space-free
    character grams — the two failure classes the stopword method
    cannot see. The planted-truth A/B (BASELINE.md r13): macro-F1 0.894
    vs stopword's 0.568 (stopword scores 0.0 on every inflected-Latin
    and unsegmented-CJK sentence). ~3·len gram lookups per row, still
    all-JVM codegen, no shuffle.

    ``method="stopword"`` (oracle-twinned, the pre-r13 default): per
    language, the fraction of whitespace tokens in that language's
    stopword list. Requires whitespace-segmented text with exact
    stopword tokens — cheap and precise on clean prose, blind to the
    two classes above; kept for callers that want the cheaper exact-
    token semantics.

    Both: argmax wins, alphabetical tie-break, 'und' when all scores are
    zero; char_ngram ADDITIONALLY routes to 'und' when the top-two score
    gap is under :data:`CHAR_NGRAM_UND_MARGIN` (ADVICE r12 — shared
    single-char grams give garbage text nonzero scores, so the all-zero
    test alone is not a garbage filter for this method). ``with_margin``
    adds the runner-up language and the top-two score gap — the
    confidence signal routing pipelines use to quarantine ambiguous
    docs.

    ``key_col`` (char_ngram only): the name of a UNIQUE key column.
    When given, scoring runs as explode → broadcast weight-table join →
    decimal group-sum keyed on it — the scale path (codegen hash join +
    map-side combine; measured ~25× faster than the per-row literal-map
    scan on the 500-doc fixture) and the exact shape the DuckDB twins
    replay. Totals are bit-identical to the per-row path (same decimal
    addends, order-free). Without it, scoring stays fully per-row (no
    shuffle, works on keyless frames).

    Accuracy note: the synthetic documents fixture draws its text from
    one shared vocabulary regardless of the ``lang`` label (text ⊥
    label, measured r12 — per-lang token stats are indistinguishable),
    so NO text-based classifier can beat the label base rate there; the
    planted-truth pytest fixtures (real sentences per language) are the
    honest evaluation, and ``lang_id_confusion`` documents the fixture
    property.
    """
    df = fan_out(df)
    t = F.col(text_col)
    if method == "char_ngram":
        # the padded/normalized string MUST be a materialized column, not
        # an inline expression: higher-order lambdas are interpreted and
        # re-evaluate their subtrees per ELEMENT, so an inline `s` re-ran
        # the regexp_replace+lower+trim pipeline once per gram — O(len²)
        # per doc, measured 6-7 s just to extract 449k grams from 500
        # fixture docs (r13; the same trap word_shingles documents)
        df = df.withColumn(
            "__lang_s",
            F.concat(
                F.lit(" "),
                F.lower(F.trim(F.regexp_replace(t, r"\s+", " "))),
                F.lit(" "),
            ),
        )
        s = F.col("__lang_s")

        # 1/2/3-grams of the padded, whitespace-normalized text.
        # Closure FACTORIES, not default args: Spark binds higher-order
        # lambdas by Python arity, so a `lambda i, n=n:` registers as the
        # (element, index) two-parameter variant with n bound to the index
        def slicer(n: int):
            return lambda i: s.substr(i, F.lit(n))

        grams = F.flatten(
            F.array(
                *[
                    F.transform(
                        F.sequence(
                            F.lit(1),
                            F.greatest(F.length(s) - (n - 1), F.lit(0)),
                        ),
                        slicer(n),
                    )
                    for n in (1, 2, 3)
                ]
            )
        )
        # NULL/empty/whitespace-only text must stay 'und': the padded
        # form of "" is two spaces whose shared ' ' gram scores every
        # language equally and the alphabetical tie-break minted a
        # confident-looking 'de' for garbage rows
        grams = F.when(
            F.length(F.trim(F.coalesce(t, F.lit("")))) > 0, grams
        ).otherwise(F.array().cast("array<string>"))
        df = df.withColumn("__lang_grams", grams)
        garr = F.col("__lang_grams")
        n_grams = F.nullif(F.size(garr).cast("double"), F.lit(0.0))
        profiles = _lang_ngram_profiles()
        langs = sorted(profiles)
        all_grams = sorted(set().union(*map(set, profiles.values())))
        if key_col is not None:
            # JOIN-based scoring (r13 — the scale path, and the shape
            # the DuckDB twin replays): explode grams, broadcast-hash-
            # join the |profile|-row weight table, decimal group-sum per
            # key. The per-row map path below pays a LINEAR literal-map
            # scan per gram (1385 string comparisons, interpreted) —
            # measured 26 s on 500 sf0.01 docs vs ~1 s for this path;
            # at corpus scale the join is codegen + map-side combine
            # and never shuffles more than key×langs partial rows.
            # Identical totals: both paths sum the same DECIMAL(28,10)
            # addends, and decimal addition is exact/order-free.
            # Requires key_col values to be UNIQUE (they key the join
            # back onto df).
            from decimal import Decimal

            spark = df.sparkSession
            wrows = [
                tuple(
                    [g]
                    + [
                        Decimal(repr(profiles[la].get(g, 0.0)))
                        for la in langs
                    ]
                )
                for g in all_grams
            ]
            wschema = "__g string, " + ", ".join(
                f"__w_{la} decimal(28,10)" for la in langs
            )
            wdf = spark.createDataFrame(wrows, wschema)
            ex = df.select(
                F.col(key_col).alias("__k"),
                F.explode(garr).alias("__g"),
            )
            sums = (
                ex.join(F.broadcast(wdf), "__g")
                .groupBy("__k")
                .agg(
                    *[
                        F.sum(f"__w_{la}").alias(f"__lw_{la}")
                        for la in langs
                    ]
                )
            )
            df = df.join(
                sums, df[key_col] == sums["__k"], "left"
            ).drop("__k")
            scores = [
                F.struct(
                    (
                        F.coalesce(
                            F.col(f"__lw_{la}"),
                            F.lit(0).cast("decimal(38,10)"),
                        ).cast("double")
                        / n_grams
                    ).alias("score"),
                    F.lit(la).alias("lang"),
                )
                for la in langs
            ]
            return _lang_rank_output(
                df,
                scores,
                with_margin,
                "__lang_s",
                "__lang_grams",
                *[f"__lw_{la}" for la in langs],
                und_margin=CHAR_NGRAM_UND_MARGIN,
            )
        # ONE merged map gram → per-language weight vector (r12 review):
        # GetMapValue on a literal map is a linear key scan, so five
        # per-language maps cost 5×|profile| string comparisons per
        # gram; the merged map does a single scan and one zip_with add,
        # producing identical scores ~5× cheaper. (Still the slow path
        # overall — pass key_col for the join-based scale path above.)
        # weight vectors accumulate in DECIMAL(28,10), not double (r13,
        # the default-flip graduation): decimal addition is EXACT at
        # these magnitudes, so the fold's total is independent of
        # summation order and a DuckDB oracle can replay it with an
        # order-free group SUM — a double fold would pin the oracle to
        # the exact gram iteration order. p=28 keeps Spark's decimal ADD
        # from dropping scale (see similarity._portable_dot_literal).
        acc_t = "decimal(28,10)"
        merged = F.create_map(
            *[
                x
                for g in all_grams
                for x in (
                    F.lit(g),
                    F.array(
                        *[
                            F.lit(profiles[la].get(g, 0.0)).cast(acc_t)
                            for la in langs
                        ]
                    ),
                )
            ]
        )
        zero = F.array(*[F.lit(0).cast(acc_t)] * len(langs))
        totals = F.aggregate(
            garr,
            zero,
            lambda acc, g: F.zip_with(
                acc,
                F.coalesce(F.element_at(merged, g), zero),
                lambda a, b: (a + b).cast(acc_t),
            ),
        )
        # materialize the totals vector once: each per-language score
        # reads one element, and inlining the aggregate would evaluate
        # it len(langs) times
        df = df.withColumn("__lang_totals", totals)
        scores = [
            F.struct(
                (
                    F.element_at(F.col("__lang_totals"), i + 1).cast(
                        "double"
                    )
                    / n_grams
                ).alias("score"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(langs)
        ]
        return _lang_rank_output(
            df,
            scores,
            with_margin,
            "__lang_s",
            "__lang_grams",
            "__lang_totals",
            und_margin=CHAR_NGRAM_UND_MARGIN,
        )
    if method != "stopword":
        raise ValueError(
            f"lang_id: method must be 'stopword' or 'char_ngram'; "
            f"got {method!r}"
        )
    # tokenize ONCE into a projected column: higher-order lambda subtrees
    # are CodegenFallback and not common-subexpression-eliminated, so
    # inlining the split+lower into every per-language filter re-ran the
    # O(len) tokenization ~6x per row (12x with with_margin) — the same
    # materialize-first discipline as byte_entropy (r9 review)
    df = df.withColumn("__lang_words", F.transform(_words(t), F.lower))
    words = F.col("__lang_words")
    n = F.nullif(F.size(words).cast("double"), F.lit(0.0))
    def contains(litarr):
        # single-arg lambda: a second parameter would make Spark treat it as
        # the (element, index) filter variant.
        return lambda w: F.array_contains(litarr, w)

    scores = []
    for lang in sorted(STOPWORDS):
        litarr = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        frac = F.size(F.filter(words, contains(litarr))) / n
        scores.append(F.struct(frac.alias("score"), F.lit(lang).alias("lang")))
    return _lang_rank_output(df, scores, with_margin, "__lang_words")


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Two document fingerprints:

    - ``fp_md5``: md5 of whitespace-normalized lowercase text (cross-engine
      reproducible — the oracle-checkable variant);
    - ``fp_rolling``: order-sensitive polynomial rolling hash over tokens
      (xxhash64-based, Spark-native).
    """
    df = fan_out(df)
    t = F.col(text_col)
    norm = F.lower(F.trim(F.regexp_replace(t, r"\s+", " ")))
    return df.withColumns(
        {
            "fp_md5": F.md5(norm),
            "fp_rolling": rolling_fingerprint(_words(t)),
        }
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 5,
    min_df: int = 1,
) -> DataFrame:
    """Top-``top_n`` TF-IDF terms per document.

    tf = term count within the doc (BPE-ish ``TOKEN_PATTERN`` tokens,
    lowercased); idf = ln(N / df) with df = number of docs containing the
    term; score = tf · idf rounded to 6.

    Shuffle discipline at corpus scale: one explode → (doc, token) count
    aggregate (map-side partial), one token-level df aggregate over the
    *already deduplicated* (doc, token) pairs, a token-keyed join of the
    two (token cardinality ≪ pair cardinality; Catalyst broadcasts when
    the vocab is small), and a per-doc window over ≤ |doc's vocab| rows.
    The corpus count N is a scalar literal-free cross join of a 1-row agg —
    no driver action, no collect.

    The (doc, token, tf) aggregate feeds both the df aggregate and the
    scoring join, and is not cached. The scoring join uses a NULL-SAFE
    key (r13 optimization round): the plain equi-join derived
    isnotnull(token) Filters (InferFiltersFromConstraints) into both tf
    subtrees — re-evaluating the tokenize+explode under extra Filter
    nodes; `<=>` injects nothing, and removing those Filters is the
    measured win (2 injected isnotnull occurrences in the r13 before-
    plan, 0 after; entry 2.9 → 1.45 s). Static ReuseExchange still does
    NOT fire across the two tf subtrees (the committed r13 after-plan
    shows two full Scan+Generate+HashAggregate chains — reworded per
    ADVICE r13; AQE may still reuse the materialized stage at runtime,
    which the plan text cannot show). Result-identical: token comes
    from an explode of regexp matches (never NULL) on both sides, so
    null-matching semantics are moot.
    """
    # no fan_out here: measured NEGATIVE at sf0.1 (tokenize+explode is
    # cheap relative to the extra exchange both tf consumers then pay)
    toks = df.select(
        F.col(id_col),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_PATTERN), 0)
        ).alias("token"),
    )
    tf = toks.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df")).select(
        F.col("token").alias("__dftoken"), "df"
    )
    if min_df > 1:
        dfreq = dfreq.filter(F.col("df") >= min_df)
    n_docs = df.select(F.count_distinct(F.col(id_col)).alias("n_docs"))
    scored = (
        tf.join(dfreq, F.col("token").eqNullSafe(F.col("__dftoken")))
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "token",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .orderBy(id_col, "rank")
    )


#: PII patterns (public-knowledge shapes, RE2/Java-portable: no lookaround,
#: no backrefs — so the DuckDB oracle replays them verbatim).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "gov_id": r"\d{3}-\d{2}-\d{4}",          # SSN-shaped 3-2-4
    "phone": r"\+\d{1,2}-\d{3}-\d{4}",       # +CC-exchange-line
}


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrub PII-shaped substrings from ``text_col``, keeping per-document
    match counts (the audit signal a training-data pipeline logs before
    dropping raw text). Pure codegen regexp chain — no shuffle, no UDF;
    order matters: email first (its local part may contain digits), then
    gov_id (3-2-4) before phone so the narrower shape isn't half-eaten.

    Every input column except ``text_col`` passes through unchanged
    (``text_col`` is REPLACED by ``redacted_text`` — raw text must not
    survive a redaction operator); the r8 review found the old form both
    hardcoded a ``doc_id`` column and silently dropped all others.
    """
    df = fan_out(df)
    t = F.col(text_col)
    # each count is taken on the text AS THIS STEP SEES IT (after the
    # previous replacements), so the audit counts reconcile exactly with
    # the sequential redaction output — counting everything on the raw
    # text could report a category that an earlier pattern had already
    # consumed (e.g. an email local-part swallowing a phone; r9 review)
    counts = []
    for name, pat in PII_PATTERNS.items():
        counts.append(
            F.regexp_count(t, F.lit(pat)).cast("int").alias(f"n_{name}")
        )
        t = F.regexp_replace(t, pat, f"<{name}>")
    keep = [c for c in df.columns if c != text_col]
    return df.select(*keep, t.alias("redacted_text"), *counts)


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals per document: duplicate-word and
    duplicate-3-gram fractions plus the share of the most frequent 2-gram —
    the standard filters for boilerplate/looping text in a training corpus.

    Plan shape: the duplicate fractions are PURE NARROW projections
    (size/array_distinct arithmetic over the word array — no shuffle at any
    corpus size). Only the top-2-gram share needs counts of equal grams, a
    single explode + two-level hash aggregate: (doc, gram) pairs partial-
    aggregate map-side, so the shuffle carries one row per distinct gram
    per doc, not per token. Short docs (< k words) yield NULL fractions
    rather than fake zeros.
    """
    df = fan_out(df)
    from ..functions import word_shingles

    words = _words(F.col(text_col))
    n = F.size(words)
    # non-distinct k-gram count is positional: n - k + 1
    n3 = F.greatest(n - F.lit(2), F.lit(0))
    narrow = df.select(
        F.col(id_col),
        n.alias("n_words"),
        # when(n > 0): a zero-word doc must yield NULL (the docstring
        # contract), not an ANSI DIVIDE_BY_ZERO that kills the corpus
        # job (r9 review; dup_3gram_frac below was already guarded)
        F.when(
            n > 0,
            F.round(
                F.lit(1.0)
                - F.size(F.array_distinct(words)) / n.cast("double"),
                6,
            ),
        ).alias("dup_word_frac"),
        F.when(
            n3 > 0,
            F.round(
                F.lit(1.0)
                - F.size(word_shingles(F.col(text_col), 3)) / n3.cast("double"),
                6,
            ),
        ).alias("dup_3gram_frac"),
    )
    grams2 = df.select(
        F.col(id_col),
        F.explode(
            F.zip_with(
                F.slice(words, 1, F.greatest(n - 1, F.lit(0))),
                F.slice(words, 2, F.greatest(n - 1, F.lit(0))),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        ).alias("g"),
    )
    top2 = (
        grams2.groupBy(id_col, "g")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(
            F.round(F.max("c") / F.sum("c").cast("double"), 6).alias(
                "top_2gram_frac"
            )
        )
    )
    return narrow.join(top2, id_col, "left").orderBy(id_col)


#: Gopher "required words" (Rae et al. 2021, §A1.1 public recipe): a doc must
#: contain at least 2 of these common English words to pass the rule filter.
GOPHER_REQUIRED_WORDS: list[str] = [
    "the", "be", "to", "of", "and", "that", "have", "with",
]


def gopher_quality_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style rule-based quality filter (Rae et al. 2021, public recipe).

    Per-document features + the composite ``passes_gopher`` flag, all as
    codegen JVM expressions (no shuffle; pipelines with the scan at 100 TB):

    - ``n_words`` in [50, 100_000]
    - ``mean_word_len`` in [3, 10]
    - ``symbol_word_ratio`` (#, ellipsis per word) <= 0.1
    - ``frac_bullet_lines`` (lines starting with a bullet) <= 0.9
    - ``frac_ellipsis_lines`` (lines ending with an ellipsis) <= 0.3
    - ``frac_alpha_words`` (words containing a letter) >= 0.8
    - ``n_required_hits`` (GOPHER_REQUIRED_WORDS occurrences) >= 2

    The fixture documents are single-line, so the line-fraction rules are
    degenerate there (0.0); pytest exercises them on planted multi-line docs.
    """
    df = fan_out(df)
    t = F.col(text_col)
    words = _words(t)
    n_words = F.size(words)
    nwd = F.nullif(n_words.cast("double"), F.lit(0.0))
    mean_word_len = F.length(F.regexp_replace(t, r"\s+", "")) / nwd
    lines = F.split(t, r"\n")
    nld = F.nullif(F.size(lines).cast("double"), F.lit(0.0))
    bullet = F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*•]"))) / nld
    ellipsis = (
        F.size(F.filter(lines, lambda l: l.rlike(r"(\.\.\.|…)\s*$"))) / nld
    )
    symbol_ratio = F.regexp_count(t, F.lit(r"[#…]|\.\.\.")) / nwd
    alpha_frac = F.size(F.filter(words, lambda w: w.rlike(r"[A-Za-z]"))) / nwd
    req = F.array(*[F.lit(w) for w in GOPHER_REQUIRED_WORDS])
    n_req = F.size(F.filter(words, lambda w: F.array_contains(req, F.lower(w))))
    passes = (
        (n_words >= 50)
        & (n_words <= 100000)
        & (mean_word_len >= 3)
        & (mean_word_len <= 10)
        & (symbol_ratio <= 0.1)
        & (bullet <= 0.9)
        & (ellipsis <= 0.3)
        & (alpha_frac >= 0.8)
        & (n_req >= 2)
    )
    return df.withColumns(
        {
            "n_words": n_words,
            "mean_word_len": F.round(mean_word_len, 6),
            "symbol_word_ratio": F.round(symbol_ratio, 6),
            "frac_bullet_lines": F.round(bullet, 6),
            "frac_ellipsis_lines": F.round(ellipsis, 6),
            "frac_alpha_words": F.round(alpha_frac, 6),
            "n_required_hits": n_req,
            "passes_gopher": passes,
        }
    )


def bm25_scores(
    df: DataFrame,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 relevance score of every document against a fixed term
    list (the retrieval scorer behind lexical RAG / eval-set mining).

    Plan shape: one tokenize into an array column, per-term tf via
    ``size(filter(...))`` — NO token explode/shuffle for scoring; corpus
    stats (N, avgdl, per-term df) come from one 1-row aggregate that is
    crossJoin-broadcast back. The per-document score is a FIXED-ORDER
    ``+`` chain over the term list (not an aggregation), so float
    summation order is identical on every engine — which is what lets
    the DuckDB oracle hash-match. idf is the Lucene/ES form
    ``ln(1 + (N - df + 0.5)/(df + 0.5))``, always positive.
    """
    if not terms:
        # an empty term list otherwise surfaces as F.round(None, 4) —
        # an unrelated PySparkTypeError far from the cause (r9 review)
        raise ValueError("bm25_scores: terms must be non-empty")
    df = fan_out(df)
    arr = F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(TOKEN_PATTERN), 0)
    base = df.select(F.col(id_col), arr.alias("__toks")).withColumn(
        "__dl", F.size("__toks")
    )
    def _eq(term: str):
        # single-arg lambda: a 2-param lambda would make Spark pass the
        # array INDEX as the second argument (higher-order fn contract)
        return lambda t: t == F.lit(term)

    tf_cols = {
        f"__tf_{i}": F.size(F.filter("__toks", _eq(term)))
        for i, term in enumerate(terms)
    }
    base = base.withColumns(tf_cols).drop("__toks")
    stats = base.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__dl").alias("__total_dl"),
        *[
            F.sum((F.col(f"__tf_{i}") > 0).cast("int")).alias(f"__df_{i}")
            for i in range(len(terms))
        ],
    )
    scored = base.crossJoin(F.broadcast(stats))
    # nullif: an all-empty corpus (avgdl 0) must yield NULL scores — the
    # bm25 > 0 filter drops them — not an ANSI DIVIDE_BY_ZERO that kills
    # the job (r9 review; session pins ANSI on)
    avgdl = F.nullif(
        F.col("__total_dl") / F.col("__n").cast("double"), F.lit(0.0)
    )
    norm = F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("__dl") / avgdl
    )
    score = None
    for i in range(len(terms)):
        tf = F.col(f"__tf_{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("__n") - F.col(f"__df_{i}") + F.lit(0.5))
            / (F.col(f"__df_{i}") + F.lit(0.5))
        )
        part = idf * tf * F.lit(k1 + 1.0) / (tf + norm)
        score = part if score is None else score + part  # fixed + chain
    out = scored.select(
        F.col(id_col),
        F.col("__dl").alias("dl"),
        *[
            F.col(f"__tf_{i}").alias(f"tf_{t}")
            for i, t in enumerate(terms)
        ],
        F.round(score, 4).alias("bm25"),
    )
    return out.filter(F.col("bm25") > 0)


def byte_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document Shannon entropy over UTF-8 BYTES, in bits — the
    classic garbage/random-text detector (compressed blobs and line noise
    sit near 8 bits/byte; natural-language text near 4-5; repeated
    boilerplate lower still).

    Entirely shuffle-free and JVM-side: each row's byte histogram is
    derived inside the row via array ops — hex-encode, split into 2-char
    byte strings with the ``\\G`` regex anchor (one regex pass, not a
    per-index lambda over the hex string), ``array_sort``, then run-length
    boundaries give the per-byte counts. Bytes (not code points) make the
    result encoding-exact and engine-portable for any Unicode content.

    Determinism: the entropy sum folds the count list in sorted-byte
    order via ``aggregate`` — a sequential fold, matching DuckDB's
    ``list_sum`` over the identically-ordered list (the cosine-oracle
    precedent). Empty documents yield NULL entropy.

    Each lambda references only pre-bound columns (``__s``, ``__pos``) —
    never an unbound expression — per the word_shingles CodegenFallback
    re-evaluation caveat.
    """
    df = fan_out(df)
    n = F.octet_length(F.encode(F.col(text_col), "utf-8"))
    hx = F.hex(F.encode(F.col(text_col), "utf-8"))
    step1 = df.select(
        F.col(id_col),
        n.alias("__n"),
        # slice to exactly n elements: Spark's split uses limit=-1, so the
        # end-of-string \G match leaves a trailing "" element to drop.
        F.array_sort(F.slice(F.split(hx, r"(?<=\G..)"), F.lit(1), n)).alias(
            "__s"
        ),
    )
    nn = F.col("__n")
    s = F.col("__s")
    step2 = step1.withColumn(
        "__pos",
        F.filter(
            F.sequence(F.lit(1), F.greatest(nn, F.lit(1))),
            lambda i: (i == 1) | (F.get(s, i - 1) != F.get(s, i - 2)),
        ),
    )
    pos = F.col("__pos")
    counts = F.transform(
        pos, lambda p, j: F.coalesce(F.get(pos, j + 1), nn + 1) - p
    )
    nd = F.col("__n").cast("double")
    terms = F.transform(
        counts,
        lambda c: (c / nd)
        * F.log(c / nd)
        / F.log(F.lit(2.0)),
    )
    ent = F.round(
        -F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x), 6
    )
    # NULL text: octet_length(NULL) is NULL, but greatest(NULL, 1) made the
    # position filter emit [1] — gate every stat on nn IS NOT NULL so a
    # NULL document yields NULL across the board (matching the SQL twin),
    # not a phantom n_distinct_bytes = 1.
    return step2.select(
        F.col(id_col),
        F.col("__n").alias("n_bytes"),
        F.when(nn.isNull(), F.lit(None).cast("int"))
        .when(nn == 0, F.lit(0))
        .otherwise(F.size(pos))
        .alias("n_distinct_bytes"),
        F.when(nn.isNull() | (nn == 0), F.lit(None).cast("double"))
        .otherwise(ent)
        .alias("entropy_bits"),
    )


#: Secret-scanning patterns — every regex is restricted to the syntax
#: subset Java regex and RE2 (DuckDB) share: no lookaround, no backrefs,
#: \b and (?i) only. Categories follow the public gitleaks/trufflehog
#: taxonomy: key-material headers, provider key IDs, long hex tokens,
#: bearer headers, credential assignments, and userinfo-in-URL.
SECRET_PATTERNS: "dict[str, str]" = {
    "pem": r"-----BEGIN [A-Z ]*PRIVATE KEY-----",
    "key_id": r"\bAKIA[0-9A-Z]{16}\b",
    "hex40": r"\b[0-9a-f]{40}\b",
    "bearer": r"(?i)bearer [a-zA-Z0-9_.=-]{20,}",
    "cred_assign": r"(?i)\b(password|passwd|secret|api_key|apikey|access_token)\s*[:=]\s*[^\s,;]+",
    "url_creds": r"\b[a-z]{2,8}://[^/\s:@]+:[^@\s]+@",
}


def _pattern_scan(
    df: DataFrame,
    patterns: "dict[str, str]",
    flag_col: str,
    id_col: str,
    text_col: str,
    append: bool,
) -> DataFrame:
    """Shared body of secret_scan/mojibake_scan/injection_scan (r9 review:
    was pasted three times): one codegen ``regexp_extract_all`` count per
    pattern, an any-hit boolean, and either an (id, counts) projection or
    — with ``append=True`` — every input column kept so scans compose by
    CHAINING on one frame (a single codegen projection, no per-scan
    doc_id joins)."""
    df = fan_out(df)
    counts = {
        f"n_{name}": F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(pat), 0)
        )
        for name, pat in patterns.items()
    }
    keep = ["*"] if append else [F.col(id_col)]
    out = df.select(*keep, *[c.alias(n) for n, c in counts.items()])
    total = None
    for n in counts:
        total = F.col(n) if total is None else total + F.col(n)
    return out.withColumn(flag_col, total > 0)


def secret_scan(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    append: bool = False,
) -> DataFrame:
    """Per-document credential/secret occurrence counts — the pre-training
    hygiene scan that keeps leaked key material out of a corpus (run it
    before packing; route ``has_secret`` docs to quarantine/redaction).

    One codegen ``regexp_extract_all`` per category, zero shuffles, zero
    Python — the whole scan rides the parquet scan's projection. Patterns
    deliberately stay inside the Java∩RE2 syntax subset so the same
    regexes run identically on Spark and DuckDB (and in a Trino/Athena
    pass-through, the reference's engine).
    """
    return _pattern_scan(df, SECRET_PATTERNS, "has_secret", id_col, text_col, append)


def bpe_pair_counts(
    df: DataFrame, text_col: str = "text", top_n: int = 30
) -> DataFrame:
    """Corpus-wide adjacent character-pair frequencies — the statistic a
    byte-pair-encoding trainer computes for its first merge (Sennrich et
    al. 2016): the most frequent pair becomes the first merge rule.

    The classic BPE scale trick: aggregate the corpus to its *vocabulary*
    first (word → count, one token-keyed shuffle with map-side partials),
    then explode pairs only over distinct words — pair generation is
    O(vocab), not O(corpus). Final pair aggregate is vocab-sized; top-n is
    a TakeOrderedAndProject, never a global sort.

    Words are ASCII-alpha runs, lowercased; within-word multiplicity
    counts (``"aaa"`` contributes 2 × ``aa``).
    """
    df = fan_out(df)
    t = F.col(text_col)
    words = F.transform(
        F.regexp_extract_all(t, F.lit("[A-Za-z]+"), 0), F.lower
    )
    wc = (
        df.select(F.explode(words).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.length("word") >= 2)
    )
    w = F.col("word")
    pairs = F.transform(
        F.sequence(F.lit(1), F.length(w) - 1), lambda i: w.substr(i, F.lit(2))
    )
    return (
        wc.select(F.explode(pairs).alias("pair"), "c")
        .groupBy("pair")
        .agg(F.sum("c").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "pair")
        .limit(top_n)
    )


#: Encoding-damage patterns (Java∩RE2 subset, like SECRET_PATTERNS): the
#: replacement char a lossy decode leaves behind, C0 controls that never
#: belong in text, and the classic UTF-8-bytes-read-as-cp1252 mojibake
#: digraphs (Ã©-style letters, â€œ-style smart quotes, Â+NBSP). High bytes
#: are written as \x{..} code-point escapes — both engines accept them and
#: the source stays control-char-free.
MOJIBAKE_PATTERNS: "dict[str, str]" = {
    "replacement": "�",
    "control": r"[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}]",
    "mojibake": r"Ã[\x{80}-\x{FF}]|â€|Â\x{A0}",
}


def mojibake_scan(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    append: bool = False,
) -> DataFrame:
    """Per-document encoding-damage counts — the curation signal for text
    that survived a bad charset round-trip (scraped corpora are full of
    it): U+FFFD replacement chars, stray C0 controls, and cp1252
    mojibake digraphs. Pure codegen regex riding the scan, zero shuffle;
    ``is_damaged`` routes to re-decode/drop.
    """
    return _pattern_scan(df, MOJIBAKE_PATTERNS, "is_damaged", id_col, text_col, append)


#: Prompt-injection bait patterns (Java∩RE2 subset) — the strings a
#: poisoned document plants hoping a model trained on it internalizes
#: compliance. Scrubbing them from training corpora is standard
#: data-poisoning defense; patterns follow the public taxonomy
#: (instruction-override, role hijack, exfil directives).
INJECTION_PATTERNS: "dict[str, str]" = {
    "override": r"(?i)(ignore|disregard|forget) (all )?(your |the )?(previous|prior|above|earlier) (instructions|prompts|rules|directions)",
    "hijack": r"(?i)(\byou are now\b|\bpretend (you are|to be)\b|\bact as if\b)",
    "system_leak": r"(?i)(reveal|print|repeat|show) (your |the )?(system|hidden|initial) (prompt|instructions|message)",
    "exfil": r"(?i)send (this|it|the (data|contents?)) to\b",
}


def injection_scan(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    append: bool = False,
) -> DataFrame:
    """Per-document prompt-injection-bait counts — the data-poisoning
    hygiene scan run before a corpus reaches instruction training (same
    codegen regexp shape as secret_scan: zero shuffle, zero Python)."""
    return _pattern_scan(df, INJECTION_PATTERNS, "has_injection", id_col, text_col, append)


def instruction_format_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Instruction/chat-format detection: counts of Q:/A: markers,
    chat-template role tags, numbered-step lines, and imperative
    sentence openers — the corpus-composition signal that says how much
    of a feed is already instruction-shaped (routing for SFT vs
    pretraining mixes). Codegen regex only, zero shuffle."""
    df = fan_out(df)
    t = F.col(text_col)
    qa = F.size(
        F.regexp_extract_all(t, F.lit(r"(?im)^\s*(q|a|question|answer)\s*[:.]"), 0)
    )
    role = F.size(
        F.regexp_extract_all(
            t,
            F.lit(
                r"(?i)<\|?(system|user|assistant|human|bot)\|?>"
                r"|(?im)^\s*(system|user|assistant)\s*:"
            ),
            0,
        )
    )
    steps = F.size(
        F.regexp_extract_all(t, F.lit(r"(?im)^\s*(step\s+)?[0-9]+[.)]\s"), 0)
    )
    return df.select(
        F.col(id_col),
        qa.alias("n_qa_markers"),
        role.alias("n_role_tags"),
        steps.alias("n_numbered_steps"),
        ((qa + role) > 0).alias("is_instruction_like"),
    )


def compression_ratio(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib (DEFLATE) compressibility — the classic
    redundancy/quality signal used by large-corpus curation pipelines:
    natural prose compresses to ~0.3-0.5 of its size, boilerplate and
    repeated spans compress far harder, random/binary-ish text barely at
    all (ratio → 1). Cheap, language-agnostic, and robust where token
    heuristics miss (e.g. repeated markup).

    Python is unavoidable (no JVM-side zlib expression), so this is an
    Arrow-batched ``mapInPandas`` stage — one pass, no shuffle, executors
    stream record batches; the stdlib ``zlib`` at a FIXED level keeps the
    output deterministic (zlib's compressed bytes are fully determined by
    input + level + strategy, so the ratio is reproducible across runs
    and machines). NULL text yields NULL stats.
    """
    df = fan_out(df)
    import zlib
    from collections.abc import Iterator

    import pandas as pd

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            raw, comp, ratio = [], [], []
            for t in pdf[text_col]:
                if t is None:
                    raw.append(None)
                    comp.append(None)
                    ratio.append(None)
                    continue
                b = t.encode("utf-8")
                c = zlib.compress(b, level)
                raw.append(len(b))
                comp.append(len(c))
                ratio.append(
                    round(len(c) / len(b), 6) if len(b) else None
                )
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_raw_bytes": pd.array(raw, dtype="Int64"),
                    "n_compressed_bytes": pd.array(comp, dtype="Int64"),
                    "compression_ratio": pd.array(ratio, dtype="float64"),
                }
            )

    # id keeps its ACTUAL input type (string/int/bigint ids all valid —
    # the bigint literal broke UUID/URL-keyed corpora at the Arrow
    # boundary; r9 review, same fix as _rolling_span_postings)
    id_type = df.schema[id_col].dataType.simpleString()
    return df.select(id_col, text_col).mapInPandas(
        batches,
        schema=(
            f"{id_col} {id_type}, n_raw_bytes bigint, "
            "n_compressed_bytes bigint, compression_ratio double"
        ),
    )
