"""North-star LLM-data-pipeline queries: dedup, similarity search, text
analysis, multimodal columns (SURVEY.md §7 step 6; BASELINE.json north_star).

Oracle-checkable entries get full DuckDB SQL twins (inverted-index jaccard,
cosine pairs/top-k, text stats, lang-id, fingerprints, canonical dedup).
The MinHash/SimHash operators hash words and shingles with md5-derived
60-bit hashes (``functions.portable_hash64``), so the full pipeline —
shingle hashes, a·h+b mod p signatures, LSH bands, pigeonhole blocks, exact
verification — is replayed as generated DuckDB SQL with the same seeded
parameters; only genuinely sketch-valued entries (HLL, frequent-items,
LSH/IVF ANN) remain rows-only with pytest/recall invariants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup, multimodal, similarity, textstats
from ..sources import fan_out, load_table
from . import register, register_sql

# ---------------------------------------------------------------- text stats

_DUCK_WORDS = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')"


def _localized_sorted(spark, rows, schema, *sort_cols) -> DataFrame:
    """Rebuild a collected (small, driver-resident) result as a ONE-slice
    frame sorted within that slice. The r13 pattern
    ``createDataFrame(rows).orderBy(...)`` parallelized ≤80 rows into 32
    Python-RDD slices and range-sorted them: a sampling job plus a
    32-task exchange, ~0.6 s of pure latency per clustered entry (r14,
    measured; the one-slice sortWithinPartitions form is ~0.19 s). With
    one partition the within-partition sort IS the total order, and
    every call site sorts on a key that is unique per row, so the output
    rows and their order are identical."""
    rdd = spark.sparkContext.parallelize(rows, 1)
    return spark.createDataFrame(rdd, schema).sortWithinPartitions(*sort_cols)


@register(
    "text_token_stats",
    oracle=f"""
SELECT doc_id,
       len({_DUCK_WORDS}) AS n_words,
       len(regexp_extract_all(text, '{textstats.TOKEN_PATTERN}')) AS n_tokens,
       length(text) AS n_chars_calc,
       round(length(regexp_replace(text, '\\s+', '', 'g'))
             / nullif(CAST(len({_DUCK_WORDS}) AS DOUBLE), 0.0), 6) AS avg_word_len
FROM documents ORDER BY doc_id
""",
    tags=("llmops", "text"),
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return textstats.token_stats(docs).select(
        "doc_id", "n_words", "n_tokens", "n_chars_calc", "avg_word_len"
    ).orderBy("doc_id")


def _duck_stoplist(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in textstats.STOPWORDS[lang])
    return f"[{words}]"


@register(
    "text_quality",
    oracle=f"""
WITH base AS (
  SELECT doc_id, text,
         CAST(len({_DUCK_WORDS}) AS DOUBLE) AS n_words,
         CAST(length(text) AS DOUBLE) AS n_chars,
         length(regexp_replace(text, '[^.!?,;:]', '', 'g')) AS n_punct,
         length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper,
         len(list_filter({_DUCK_WORDS},
             w -> list_contains({_duck_stoplist('en')}, lower(w)))) AS n_stop
  FROM documents
)
SELECT doc_id,
       round(n_punct / nullif(n_chars, 0.0), 6) AS punct_ratio,
       round(n_upper / nullif(n_chars, 0.0), 6) AS upper_ratio,
       round(n_stop / nullif(n_words, 0.0), 6) AS stopword_ratio,
       round(
         (CASE WHEN n_words BETWEEN 10 AND 10000 THEN 0.4 ELSE 0.0 END)
         + (CASE WHEN n_punct / nullif(n_chars, 0.0) <= 0.2 THEN 0.2 ELSE 0.0 END)
         + (CASE WHEN n_upper / nullif(n_chars, 0.0) <= 0.3 THEN 0.2 ELSE 0.0 END)
         + (CASE WHEN n_stop / nullif(n_words, 0.0) IS NULL THEN 0.0
                 ELSE least(n_stop / nullif(n_words, 0.0) * 2, 0.2) END),
         6) AS quality
FROM base ORDER BY doc_id
""",
    tags=("llmops", "text"),
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return textstats.quality_score(docs).select(
        "doc_id", "punct_ratio", "upper_ratio", "stopword_ratio", "quality"
    ).orderBy("doc_id")


def _duck_lang_id_sql() -> str:
    cands = ",\n    ".join(
        "{{'lang': '{lang}', 'score': len(list_filter(words, w -> "
        "list_contains({stop}, w))) / nullif(CAST(len(words) AS DOUBLE), 0.0)}}".format(
            lang=lang, stop=_duck_stoplist(lang)
        )
        for lang in sorted(textstats.STOPWORDS)
    )
    return f"""
WITH base AS (
  SELECT doc_id,
         list_transform({_DUCK_WORDS}, x -> lower(x)) AS words
  FROM documents
), sc AS (
  SELECT doc_id, unnest([
    {cands}
  ]) AS c FROM base
), r AS (
  SELECT doc_id, c.lang AS lang, c.score AS score,
         row_number() OVER (PARTITION BY doc_id ORDER BY c.score DESC, c.lang) AS rn
  FROM sc
)
SELECT doc_id,
       CASE WHEN score > 0 THEN lang ELSE 'und' END AS lang_pred,
       round(coalesce(score, 0.0), 6) AS lang_score
FROM r WHERE rn = 1 ORDER BY doc_id
"""


def _duck_lang_ngram_body() -> str:
    """Shared WITH-body of the char-n-gram lang-ID twins (r13 — the
    method became lang_id's DEFAULT after the planted-truth A/B,
    VERDICT r12 task 5): replays the padded/normalized 1–3-gram
    extraction, looks weights up in a VALUES table generated from the
    SAME ``_lang_ngram_profiles()`` call the Spark operator uses
    (single source — the two weight sets can never drift), and sums
    per (doc, lang) in DECIMAL. Exactness: every profile weight is a
    ≤6-dp decimal, so the DECIMAL literal here equals Spark's
    double→DECIMAL(28,10) cast of the same value, and decimal sums are
    order-free — DuckDB's group SUM equals Spark's in-order fold bit
    for bit. Ends at CTE ``r``: per-doc per-lang (score, rn) ranked
    desc-by-score / asc-by-lang."""
    profiles = textstats._lang_ngram_profiles()
    langs = sorted(profiles)
    all_grams = sorted(set().union(*map(set, profiles.values())))
    wcols = ", ".join(f"w_{la}" for la in langs)
    rows = ",\n    ".join(
        "('{g}', {ws})".format(
            g=g.replace("'", "''"),
            ws=", ".join(repr(profiles[la].get(g, 0.0)) for la in langs),
        )
        for g in all_grams
    )
    cands = ",\n    ".join(
        "{{'lang': '{la}', 'score': CAST(coalesce(s.w_{la}, 0) AS DOUBLE)"
        " / nullif(CAST(pd.n_grams AS DOUBLE), 0.0)}}".format(la=la)
        for la in langs
    )
    return f"""norm AS (
  SELECT doc_id,
         ' ' || lower(trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g'))) || ' ' AS s,
         len(trim(coalesce(text, ''))) > 0 AS nonempty
  FROM documents
), gl AS (
  SELECT doc_id, CASE WHEN nonempty THEN flatten([
      list_transform(generate_series(1, greatest(len(s), 0)), i -> substr(s, i, 1)),
      list_transform(generate_series(1, greatest(len(s) - 1, 0)), i -> substr(s, i, 2)),
      list_transform(generate_series(1, greatest(len(s) - 2, 0)), i -> substr(s, i, 3))
    ]) ELSE CAST([] AS VARCHAR[]) END AS grams
  FROM norm
), pd AS (
  SELECT doc_id, len(grams) AS n_grams FROM gl
), ex AS (
  SELECT doc_id, unnest(grams) AS g FROM gl
), w(g, {wcols}) AS (
  VALUES
    {rows}
), sums AS (
  SELECT ex.doc_id, {", ".join(f"sum(w.w_{la}) AS w_{la}" for la in langs)}
  FROM ex JOIN w USING (g) GROUP BY ex.doc_id
), sc AS (
  SELECT pd.doc_id, unnest([
    {cands}
  ]) AS c
  FROM pd LEFT JOIN sums s USING (doc_id)
), r AS (
  SELECT doc_id, c.lang AS lang, c.score AS score,
         row_number() OVER (PARTITION BY doc_id ORDER BY c.score DESC, c.lang) AS rn
  FROM sc
)"""


def _duck_ngram_floor() -> str:
    """The char_ngram 'und' margin floor as a DOUBLE literal — same
    python float the Spark side compares against (textstats
    CHAR_NGRAM_UND_MARGIN), string-cast so DuckDB doesn't parse it as a
    DECIMAL and change the comparison type."""
    return f"CAST('{textstats.CHAR_NGRAM_UND_MARGIN!r}' AS DOUBLE)"


def _duck_lang_ngram_id_sql() -> str:
    return f"""
WITH {_duck_lang_ngram_body()}
SELECT a.doc_id,
       CASE WHEN a.score > 0
             AND coalesce(a.score, 0.0) - coalesce(b.score, 0.0)
                 >= {_duck_ngram_floor()}
            THEN a.lang ELSE 'und' END AS lang_pred,
       round(coalesce(a.score, 0.0), 6) AS lang_score
FROM r a JOIN r b ON a.doc_id = b.doc_id AND a.rn = 1 AND b.rn = 2
ORDER BY a.doc_id
"""


def _duck_lang_ngram_margin_sql() -> str:
    return f"""
WITH {_duck_lang_ngram_body()}
SELECT a.doc_id,
       CASE WHEN a.score > 0
             AND coalesce(a.score, 0.0) - coalesce(b.score, 0.0)
                 >= {_duck_ngram_floor()}
            THEN a.lang ELSE 'und' END AS lang_pred,
       CASE WHEN b.score > 0 THEN b.lang ELSE 'und' END AS lang_pred2,
       round(coalesce(a.score, 0.0) - coalesce(b.score, 0.0), 6) AS lang_margin
FROM r a JOIN r b ON a.doc_id = b.doc_id AND a.rn = 1 AND b.rn = 2
ORDER BY a.doc_id
"""


@register(
    "text_lang_id",
    oracle=_duck_lang_ngram_id_sql(),
    tags=("llmops", "text"),
    notes="Language ID via the char-n-gram method — lang_id's DEFAULT "
    "since r13, decided by the planted-truth A/B (BASELINE.md: macro-F1 "
    "0.894 vs stopword 0.568; stopword is blind to inflected Latin and "
    "unsegmented CJK). Decimal-accumulated gram-weight scores, argmax "
    "with alphabetical tie-break, 'und' on zero score OR a top-two "
    "margin under the measured 0.04 garbage floor (ADVICE r12). The "
    "DuckDB twin regenerates the weight table from the same "
    "_lang_ngram_profiles() call. The stopword method remains available "
    "as lang_id(method='stopword'), oracle-checked via "
    "text_lang_id_stopword.",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return (
        textstats.lang_id(docs, key_col="doc_id")
        .select("doc_id", "lang_pred", "lang_score")
        .orderBy("doc_id")
    )


@register(
    "text_lang_id_stopword",
    oracle=_duck_lang_id_sql(),
    tags=("llmops", "text"),
    notes="Stopword-fraction heuristic language ID (lang_id's pre-r13 "
    "default, kept as an explicit method): per language, the fraction "
    "of whitespace tokens in that language's exact stopword list; "
    "argmax with alphabetical tie-break, 'und' when no stopword hits. "
    "Cheap and precise on clean segmented prose; the r13 A/B table in "
    "BASELINE.md documents why char_ngram took the default.",
)
def text_lang_id_stopword(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return (
        textstats.lang_id(docs, method="stopword")
        .select("doc_id", "lang_pred", "lang_score")
        .orderBy("doc_id")
    )


@register(
    "text_fingerprint",
    oracle="""
SELECT doc_id,
       md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp_md5
FROM documents ORDER BY doc_id
""",
    tags=("llmops", "text"),
    notes="Cross-engine md5 fingerprint of whitespace-normalized text; the "
    "rolling-hash variant is Spark-native (xxhash64) and pytest-covered.",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return textstats.fingerprint(docs).select("doc_id", "fp_md5").orderBy("doc_id")


# ---------------------------------------------------------------- dedup

@register(
    "dedup_canonical_exact",
    oracle="""
WITH c AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')), ' '))
           AS canon_hash
  FROM documents
)
SELECT doc_id, canon_hash,
       min(doc_id) OVER (PARTITION BY canon_hash) AS keeper_id,
       count(*)   OVER (PARTITION BY canon_hash) AS group_size,
       doc_id = min(doc_id) OVER (PARTITION BY canon_hash) AS is_keeper
FROM c ORDER BY doc_id
""",
    tags=("llmops", "dedup"),
    notes="Canonical-form exact dedup: hash of sorted token multiset.",
)
def dedup_canonical_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.canonical_text_dedup(load_table(spark, "documents", sf_dir))


_DUCK_JACCARD = """
WITH docs AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS words FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(words) - 2),
             i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS shingles
  FROM docs WHERE len(words) >= 3
), sizes AS (
  SELECT doc_id, len(shingles) AS n_sh FROM sh
), inv_all AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh
), keep AS (
  SELECT shingle FROM inv_all GROUP BY shingle HAVING count(*) <= 1000
), inv AS (
  SELECT i.doc_id, i.shingle FROM inv_all i JOIN keep USING (shingle)
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM inv a JOIN inv b USING (shingle)
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
), scored AS (
  SELECT id_a, id_b,
         round(shared / CAST(na.n_sh + nb.n_sh - shared AS DOUBLE), 6) AS jaccard
  FROM pairs
  JOIN sizes na ON na.doc_id = id_a
  JOIN sizes nb ON nb.doc_id = id_b
)
SELECT * FROM scored WHERE jaccard >= 0.5 ORDER BY id_a, id_b
"""


@register(
    "dedup_ngram_jaccard",
    oracle=_DUCK_JACCARD,
    tags=("llmops", "dedup"),
    notes="Exact 3-gram Jaccard ≥ 0.5 pairs via inverted-index join "
    "(frequency-capped at df ≤ 1000 against stop-shingle skew).",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        load_table(spark, "documents", sf_dir), k=3, threshold=0.5, max_bucket=1000
    )


_BOILER = "subscribe to our newsletter for daily updates and exclusive content"


@register(
    "dedup_lines_c4",
    oracle=f"""
WITH src AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS words FROM documents
), built AS (
  SELECT doc_id,
         list_transform(
             generate_series(0, CAST(floor((len(words) + 7) / 8) AS INT) - 1),
             i -> array_to_string(words[i*8+1 : i*8+8], ' ')) AS lines
  FROM src
), docs2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0 THEN list_append(lines, '{_BOILER}')
              ELSE lines END AS lines
  FROM built
), lns AS (
  SELECT doc_id,
         unnest(generate_series(0, len(lines) - 1)) AS pos,
         unnest(lines) AS line
  FROM docs2
), ranked AS (
  SELECT doc_id, pos, line,
         row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
  FROM lns
), agg AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(line, chr(10) ORDER BY pos) AS text_dedup
  FROM ranked WHERE rn = 1 GROUP BY doc_id
), totals AS (
  SELECT doc_id, count(*) AS n_lines FROM lns GROUP BY doc_id
)
SELECT t.doc_id, t.n_lines, coalesce(a.n_kept, 0) AS n_kept,
       coalesce(a.text_dedup, '') AS text_dedup
FROM totals t LEFT JOIN agg a USING (doc_id)
ORDER BY doc_id
""",
    tags=("llmops", "dedup", "curation"),
    notes="C4-style global exact line dedup (operators/dedup.line_dedup): "
    "documents are line-structured (8-word chunks) with a boilerplate line "
    "planted on every 5th doc; each distinct line survives only at its "
    "first (doc_id, pos) occurrence and docs are reassembled in order — "
    "the web-corpus boilerplate-removal pass. Oracle replays the "
    "first-occurrence window + ordered string_agg.",
)
def dedup_lines_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    words = F.array_remove(F.split(F.col("text"), r"\s+"), "")
    n_chunks = F.floor((F.size(words) + 7) / F.lit(8)).cast("int")
    # zero-word doc: sequence(0, -1) would yield the DESCENDING [0, -1]
    # (Spark defaults step to -1 when start > stop) — two phantom lines
    # where DuckDB's generate_series(0, -1) is empty (r9 review); emit an
    # explicitly empty line array instead
    lines_arr = F.when(n_chunks > 0, F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.concat_ws(" ", F.slice(words, i * 8 + 1, 8)),
    )).otherwise(F.array().cast("array<string>"))
    base = F.array_join(lines_arr, "\n")
    text2 = F.when(
        F.col("doc_id") % 5 == 0, F.concat(base, F.lit("\n" + _BOILER))
    ).otherwise(base)
    return dedup.line_dedup(
        docs.select("doc_id", text2.alias("text"))
    ).orderBy("doc_id")


# MinHash/SimHash oracles: the Spark operators hash with md5-derived
# functions.portable_hash64 and the DuckDB SQL below is GENERATED with the
# same seeded (a_i, b_i) draw (functions.minhash_params), replaying
# hash → signature → band → exact-verify arithmetic bit-for-bit.

_DUCK_P = 2147483647  # functions.MINHASH_PRIME


def _duck_phash(expr: str) -> str:
    """DuckDB twin of functions.portable_hash64 (first 15 md5 hex → int64)."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


def _duck_minhash_sig_cte(num_perm: int, seed: int) -> str:
    """CTE chain ``docs → shw → hsd → sig``: distinct 3-word shingles,
    portable hashes mod p, and the num_perm-entry MinHash signature."""
    from ..functions import minhash_params

    sig_entries = ",\n    ".join(
        f"list_min(list_transform(hsh, h -> ({a}*h + {b}) % {_DUCK_P}))"
        for a, b in minhash_params(num_perm, seed)
    )
    return f"""docs AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS words FROM documents
), shw AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(words) - 2),
             i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS shingles
  FROM docs WHERE len(words) >= 3
), hsd AS (
  SELECT doc_id,
         list_distinct(list_transform(shingles,
             s -> {_duck_phash('s')} % {_DUCK_P})) AS hsh
  FROM shw
), sig AS (
  SELECT doc_id, hsh, [
    {sig_entries}
  ] AS sig FROM hsd WHERE len(hsh) > 0
)"""


def _duck_band_cte(num_perm: int, bands: int) -> str:
    """CTE ``bands``: one (doc_id, band-key) row per band; the key encodes
    the band index plus that band's signature slice, so equality ⇔ same LSH
    bucket (Spark keys on xxhash64 of the slice — same equivalence)."""
    rpb = num_perm // bands
    parts = " || ',' || ".join(
        f"CAST(sig[{rpb}*b + {j + 1}] AS VARCHAR)" for j in range(rpb)
    )
    return f"""bands AS (
  SELECT doc_id, unnest(list_transform(generate_series(0, {bands - 1}),
      b -> CAST(b AS VARCHAR) || ':' || {parts})) AS bk
  FROM sig
)"""


_DUCK_MINHASH_SCORE = """
         round(len(list_filter(generate_series(1, {np}),
               i -> sa.sig[i] = sb.sig[i])) / {np}.0, 6) AS est_jaccard,
         round(len(list_intersect(sa.hsh, sb.hsh))
               / CAST(len(list_distinct(list_concat(sa.hsh, sb.hsh))) AS DOUBLE),
               6) AS jaccard"""


@register(
    "dedup_minhash_lsh",
    oracle=f"""
WITH {_duck_minhash_sig_cte(64, 1)}, {_duck_band_cte(64, 32)},
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (bk)
  WHERE a.doc_id < b.doc_id
), scored AS (
  SELECT c.id_a, c.id_b,{_DUCK_MINHASH_SCORE.format(np=64)}
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.id_a
  JOIN sig sb ON sb.doc_id = c.id_b
)
SELECT * FROM scored WHERE jaccard >= 0.5 ORDER BY id_a, id_b
""",
    tags=("llmops", "dedup"),
    notes="MinHash(64 perms) + LSH(32 bands × 2 rows) candidates, exact "
    "Jaccard verified ≥ 0.5; md5-derived shingle hashes, so the DuckDB "
    "oracle replays signatures/banding with the identical seeded parameter "
    "draw. Candidate recall at j=0.5 is 1-(1-0.5²)³² ≈ 0.9999.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(
        load_table(spark, "documents", sf_dir),
        k=3,
        num_perm=64,
        bands=32,
        threshold=0.5,
    )


def _duck_simhash_ctes() -> str:
    """The SimHash replay CTE chain (w → hh → v → s → blocks → cand):
    60-bit portable word hashes, per-bit ±1 votes, packed signature,
    4-block pigeonhole candidates. Shared by the pair oracle and the
    recall-eval oracle so the signature arithmetic has ONE definition."""
    votes = ",\n    ".join(
        f"sum(CASE WHEN (h // {1 << i}) % 2 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(60)
    )
    packed = " + ".join(
        f"CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for i in range(60)
    )
    blocks = ", ".join(
        f"CAST({b} AS VARCHAR) || ':' || CAST((sim // {1 << (16 * b)}) % 65536 AS VARCHAR)"
        for b in range(4)
    )
    return f"""w AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS wrd
  FROM documents
), hh AS (
  SELECT doc_id, {_duck_phash('wrd')} AS h FROM w
), v AS (
  SELECT doc_id,
    {votes}
  FROM hh GROUP BY doc_id
), s AS (
  SELECT doc_id, ({packed}) AS sim FROM v
), blocks AS (
  SELECT doc_id, sim, unnest([{blocks}]) AS bk FROM s
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.sim AS sim_a, b.sim AS sim_b
  FROM blocks a JOIN blocks b USING (bk)
  WHERE a.doc_id < b.doc_id
)"""


def _duck_simhash_sql() -> str:
    """Generated SimHash pair oracle — see :func:`_duck_simhash_ctes`."""
    return f"""
WITH {_duck_simhash_ctes()}
SELECT id_a, id_b, CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sim_a, sim_b)) <= 3
ORDER BY id_a, id_b
"""


@register(
    "dedup_simhash",
    oracle=_duck_simhash_sql(),
    tags=("llmops", "dedup"),
    notes="SimHash (60 effective bits: md5-derived word hashes), Hamming "
    "≤ 3 via pigeonhole 4-block join; oracle replays the per-bit vote and "
    "block arithmetic.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_pairs(
        load_table(spark, "documents", sf_dir), max_hamming=3
    )


_DUCK_DOT = (
    "list_sum(list_transform(generate_series(1, len({a})), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


def _duck_cosine(a: str, b: str) -> str:
    dot = _DUCK_DOT.format(a=a, b=b)
    na = f"sqrt({_DUCK_DOT.format(a=a, b=a)})"
    nb = f"sqrt({_DUCK_DOT.format(a=b, b=b)})"
    return f"round({dot} / nullif({na} * {nb}, 0.0), 6)"


@register(
    "dedup_embedding_cosine",
    oracle=f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {_duck_cosine('a.embedding', 'b.embedding')} AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_duck_cosine('a.embedding', 'b.embedding')} >= 0.3
ORDER BY id_a, id_b
""",
    tags=("llmops", "dedup"),
    notes="Embedding near-dup pairs (cosine ≥ 0.3), exact all-pairs via the "
    "distributed block-partitioned matmul (no driver-side corpus collect) — "
    "the LSH-bucketed variant is ann_lsh_topk / embedding_cosine_pairs"
    "(n_planes>0).",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.embedding_cosine_pairs(
        load_table(spark, "embeddings", sf_dir), threshold=0.3, n_planes=0
    )


# ---------------------------------------------------------------- similarity

@register(
    "ann_cosine_topk",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_duck_cosine('q.qv', 'c.embedding')} AS cosine
  FROM q CROSS JOIN embeddings c
), r AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM r
WHERE rank <= 10 ORDER BY query_id, rank
""",
    tags=("llmops", "similarity"),
    notes="Exact brute-force cosine top-10 for 5 query vectors (broadcast × "
    "corpus + per-query window). LSH variant registered rows-only.",
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.cosine_topk(emb, queries, k=10, query_id_col="query_id")


def _duck_lsh_topk_sql(
    n_planes: int,
    n_tables: int,
    k: int,
    dim: int,
    seed_str: str,
    corpus_cte: str | None = None,
) -> str:
    """DuckDB twin of the PORTABLE lsh_ann_topk (VERDICT r11 task 4b):
    the ±1 parity planes come from the SAME lsh_parity_planes call the
    Spark operator uses (single source — the sign matrices can never
    drift), buckets are exact integer micro-unit sign sums, candidates
    are any-shared-bucket pairs, and the rerank replays the established
    exact-cosine discipline. Every step is deterministic, so the full
    top-k output hash-matches.

    ``corpus_cte`` swaps the raw embeddings table for a derived corpus
    (r13: the planted-cluster corpus ``duck_clustered_cte`` — the
    ann_lsh_topk_clustered graduation)."""
    from ..operators.similarity import lsh_parity_planes

    planes = lsh_parity_planes(dim, n_planes, n_tables, seed_str)
    table_selects = []
    for t in range(n_tables):
        bucket = " + ".join(
            f"(CASE WHEN list_sum(list_transform(generate_series(1, {dim}), "
            f"i -> mv[i] * ([{', '.join(str(s) for s in planes[t][j])}])[i]"
            f")) >= 0 THEN {1 << j} ELSE 0 END)"
            for j in range(n_planes)
        )
        table_selects.append(
            f"SELECT vec_id, {t} AS tbl, {bucket} AS bucket FROM mv"
        )
    cb = "\nUNION ALL\n".join(table_selects)
    src = "corpus" if corpus_cte else "embeddings"
    head = f"WITH corpus AS ({corpus_cte}), mv AS (" if corpus_cte else "WITH mv AS ("
    return f"""
{head}
  SELECT vec_id,
         list_transform(embedding,
           v -> CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT)) AS mv
  FROM {src} WHERE embedding IS NOT NULL
), cb AS (
{cb}
), qb AS (
  SELECT * FROM cb WHERE vec_id < 5
), cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM qb q JOIN cb c ON c.tbl = q.tbl AND c.bucket = q.bucket
), scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         {_duck_cosine('qe.embedding', 'ce.embedding')} AS cosine
  FROM cand
  JOIN {src} qe ON qe.vec_id = cand.query_id
  JOIN {src} ce ON ce.vec_id = cand.neighbor_id
), r AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= {k}
ORDER BY query_id, rank
"""


@register(
    "ann_lsh_topk",
    oracle=_duck_lsh_topk_sql(5, 16, 10, 64, "lsh-v1|7"),
    tags=("llmops", "similarity"),
    notes="Multi-table random-hyperplane LSH ANN (5 planes × 16 tables), "
    "exact rerank of bucket candidates — now FULLY oracle-checked "
    "(VERDICT r11 task 4b): md5-parity ±1 Rademacher planes with exact "
    "integer micro-unit sign sums make bucket assignment, the candidate "
    "set, and the rerank hash-replayable in DuckDB. "
    "Operating point re-measured with the parity planes on the "
    "near-random fixture: recall@10 = 0.76, identical to the retired "
    "Gaussian construction's curve (BASELINE.md) — on isotropic random vectors "
    "recall ~ 1-(1-(1-θ/π)^planes)^tables and neighbors sit at cosine "
    "≈ 0.28, so high recall is intrinsically expensive; clustered "
    "production embeddings sit far up the same curve at far lower cost "
    "(ann_lsh_topk_clustered).",
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.lsh_ann_topk(
        emb, queries, k=10, n_planes=5, n_tables=16, query_id_col="query_id",
        dim=64,  # embeddings fixture contract (FIXTURES.md) — no first() probe
    )


#: Clustered-fixture generation constants — shared verbatim by the Spark
#: builder below and the DuckDB ground-truth replay in
#: tools/check_oracle.py (the recall curves on this fixture are in
#: BASELINE.md). 32 planted clusters; noise/3 gives
#: expected within-cluster cosine 1/(1+1/9) = 0.9 (centroid and noise
#: components both uniform(-1,1) iid ⇒ E|C|² = 9·E|N/3|²).
CLUSTERED_K = 32
_TWO60 = float(1 << 60)


def clustered_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic planted-cluster embedding corpus derived from the
    embeddings table's vec_id spine: cluster k = vec_id % 32, vector =
    centroid(k) + noise(vec_id)/3 with every component an md5-derived
    uniform (portable_hash64 discipline), so DuckDB replays the corpus
    bit-identically for exact ground truth. Within-cluster cosine ≈ 0.9,
    cross-cluster ≈ 0 — the production-shaped fixture the near-random
    recall curves (BASELINE.md) deliberately lack. One narrow projection,
    no shuffle; scales with the vec_id spine."""
    k_str = (F.col("vec_id") % CLUSTERED_K).cast("string")
    id_str = F.col("vec_id").cast("string")

    def uni(prefix: str, key, j) -> F.Column:
        s = F.concat(F.lit(prefix), key, F.lit("|"), j.cast("string"))
        h = F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")
        return h / F.lit(_TWO60)

    vec = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda j: (2.0 * uni("cc|", k_str, j) - 1.0)
        + (2.0 * uni("cn|", id_str, j) - 1.0) / 3.0,
    )
    # fan_out BELOW the md5 projection (r13 optimization round): the
    # 128-md5-calls-per-row corpus expression is the dominant per-scan
    # cost and the single-row-group bench scan is one task; the
    # repartition must sit between the scan and the projection or the
    # evaluation stays below the exchange on that one task.
    return fan_out(
        load_table(spark, "embeddings", sf_dir).select("vec_id")
    ).select("vec_id", vec.alias("embedding"))


def duck_clustered_cte() -> str:
    """DuckDB twin of :func:`clustered_embeddings` (same md5 strings, same
    IEEE double arithmetic) — a CTE body selecting vec_id, embedding."""
    h = (
        "CAST(concat('0x', substr(md5(concat('{p}|', "
        "CAST({key} AS VARCHAR), '|', CAST(j AS VARCHAR))), 1, 15)) "
        "AS BIGINT) / 1152921504606846976.0"
    )
    cc = h.format(p="cc", key=f"vec_id % {CLUSTERED_K}")
    cn = h.format(p="cn", key="vec_id")
    return f"""
SELECT vec_id,
       list_transform(generate_series(0, 63), j ->
         (2.0 * ({cc}) - 1.0) + (2.0 * ({cn}) - 1.0) / 3.0
       ) AS embedding
FROM embeddings
"""


@register(
    "ann_lsh_topk_clustered",
    oracle=_duck_lsh_topk_sql(
        10, 16, 10, 64, "lsh-v1|7", corpus_cte=duck_clustered_cte()
    ),
    tags=("llmops", "similarity"),
    notes="LSH ANN at a production-shaped operating point: the planted-"
    "cluster corpus (clustered_embeddings — within-cluster cosine ≈ 0.9) "
    "retrieved with 10 planes × 16 tables. On clustered data the same "
    "family that needs 0.40 candidate fraction for recall 0.76 on the "
    "near-random fixture reaches recall 1.00 at a small candidate "
    "fraction (BASELINE.md clustered recall curve) — validating the "
    "claimed scale economics. Graduated to a FULL DuckDB oracle (r13, "
    "VERDICT r12 task 2a): md5-parity planes over the "
    "md5-replayed corpus (duck_clustered_cte) make bucket assignment, "
    "the candidate set, and the rerank hash-match exactly — the same "
    "construction that graduated ann_lsh_topk in r12. Retrieval quality "
    "keeps its own planted-truth floor in pytest (recall vs brute-force "
    "cosine on the clustered corpus).",
)
def ann_lsh_topk_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The md5-derived corpus is an interpreted higher-order expression
    # (~128 md5 evaluations per row); un-cached it re-evaluates on every
    # scan of the multi-phase ANN plan (r13: measured as the dominant
    # cost of the clustered entries at sf0.1). Persist once, collect the
    # ≤5·k-row result, release the cache deterministically, and return a
    # frame free of the cached lineage — the embedding_cluster_profile
    # pattern (ADVICE r12).
    emb = clustered_embeddings(spark, sf_dir).persist()
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.lsh_ann_topk(
        emb, queries, k=10, n_planes=10, n_tables=16, query_id_col="query_id",
        dim=64,
    )
    rows = out.collect()
    emb.unpersist()
    return _localized_sorted(spark, rows, out.schema, "query_id", "rank")


# ann_ivf_topk_clustered is registered further down, after its oracle
# builder _duck_ivf_topk_sql is defined (import-order: @register args
# evaluate at module import).


# ------------------------------------------------------------ full pipeline

@register(
    "pipeline_clean_corpus",
    oracle="""
WITH canon AS (
  SELECT doc_id,
         md5(array_to_string(list_sort(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')), ' '))
           AS canon_hash,
         len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS n_words,
         lang, source
  FROM documents
), keepers AS (
  SELECT doc_id, canon_hash, n_words, lang, source,
         doc_id = min(doc_id) OVER (PARTITION BY canon_hash) AS is_keeper
  FROM canon
)
SELECT doc_id, lang, source, n_words
FROM keepers
WHERE is_keeper AND n_words BETWEEN 20 AND 5000 AND lang <> 'zh'
ORDER BY doc_id
""",
    tags=("llmops", "pipeline"),
    notes="End-to-end corpus-cleaning composition: canonical dedup keepers → "
    "length band filter → language filter. One shuffle (the dedup groupBy); "
    "filters execute before it and prune at the scan.",
)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    deduped = dedup.canonical_text_dedup(docs).filter(F.col("is_keeper"))
    out = (
        docs.withColumn("n_words", F.size(F.array_remove(F.split(F.col("text"), r"\s+"), "")))
        .join(deduped.select("doc_id"), "doc_id", "left_semi")
        .filter(F.col("n_words").between(20, 5000) & (F.col("lang") != "zh"))
        .select("doc_id", "lang", "source", "n_words")
        .orderBy("doc_id")
    )
    return out


# ---------------------------------------------------------------- multimodal

@register(
    "multimodal_bytes_stats",
    oracle="""
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       md5(text) AS payload_md5
FROM documents ORDER BY doc_id
""",
    tags=("llmops", "multimodal"),
    notes="Binary-column plumbing over real fixtures: utf8 payload bytes + "
    "digest; the codec path itself is the decode_media mapInPandas stage.",
)
def multimodal_bytes_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.text_as_binary_stats(load_table(spark, "documents", sf_dir))


@register(
    "udtf_token_topk",
    oracle="""
SELECT token, count(*) AS n
FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9'']+')) AS token
      FROM documents)
GROUP BY token
ORDER BY n DESC, token
LIMIT 20
""",
    tags=("llmops", "text", "udtf"),
    notes="Python UDTF (table function) in a LATERAL join: tokenize each "
    "document row-set-wise, then top-20 token frequency. Exercises the "
    "registry's UDTF path end-to-end; tie-broken on token for determinism.",
)
def udtf_token_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.udtfs import TOKENIZE_RETURN_TYPE, TokenizeUDTF
    from ..registry import FunctionRegistry

    reg = FunctionRegistry(spark)
    reg.register_table(
        "tokenize_udtf", TokenizeUDTF, TOKENIZE_RETURN_TYPE,
        description="one row per lowercase ascii token",
    )
    load_table(spark, "documents", sf_dir).createOrReplaceTempView("q_udtf_documents")
    return spark.sql(
        """
        SELECT t.token, count(*) AS n
        FROM q_udtf_documents, LATERAL tokenize_udtf(text) t
        GROUP BY t.token
        ORDER BY n DESC, token
        LIMIT 20
        """
    )


@register(
    "udaf_geomean_quantity",
    oracle="""
SELECT l_returnflag, round(exp(avg(ln(l_quantity))), 6) AS geomean_qty
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
    tags=("llmops", "udf", "udaf"),
    notes="Grouped-aggregate pandas UDF (true UDAF): per-returnflag "
    "geometric mean of l_quantity as one Arrow batch per group — the "
    "registry's GROUPED_AGG path end-to-end. log/exp identity keeps the "
    "DuckDB twin exact to 6 decimals.",
)
def udaf_geomean_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from ..registry import FunctionRegistry

    def geomean(s):  # noqa: ANN001 — no hints: functionType is explicit
        return float(np.exp(np.log(s.to_numpy(dtype="float64")).mean()))

    reg = FunctionRegistry(spark)
    reg.register_grouped_agg(
        "geomean_udaf", geomean, "double",
        description="geometric mean via exp(mean(log))",
    )
    load_table(spark, "lineitem", sf_dir).createOrReplaceTempView("q_udaf_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, round(geomean_udaf(l_quantity), 6) AS geomean_qty
        FROM q_udaf_lineitem GROUP BY l_returnflag ORDER BY l_returnflag
        """
    )


def _split_case() -> str:
    from ..operators.sampling import split_case_sql

    return split_case_sql("doc_id")


@register(
    "split_train_test",
    oracle=f"""
WITH s AS (
  SELECT lang, {_split_case()} AS split FROM documents
)
SELECT split, lang, count(*) AS n_docs
FROM s GROUP BY split, lang
ORDER BY split, lang
""",
    tags=("llmops", "sampling"),
    notes="Deterministic md5-threshold train/valid/test split "
    "(operators/sampling.hash_split): stable under reruns and corpus "
    "appends, pure projection (no RNG, no shuffle); the DuckDB oracle runs "
    "the identical portable CASE, proving cross-engine reproducibility.",
)
def split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import hash_split

    docs = load_table(spark, "documents", sf_dir)
    return (
        hash_split(docs, "doc_id")
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("split", "lang")
    )


@register(
    "vocab_top_tokens",
    oracle=f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(text), '{textstats.TOKEN_PATTERN}'))
           AS token
  FROM documents
)
SELECT token, count(*) AS n
FROM toks GROUP BY token
ORDER BY n DESC, token LIMIT 100
""",
    tags=("llmops", "text"),
    notes="Corpus vocabulary: BPE-ish pre-tokenization (textstats."
    "TOKEN_PATTERN), lowercased, global counts, deterministic top-100. "
    "Map-side partial counts then TakeOrderedAndProject — the full vocab "
    "never sorts globally.",
)
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return (
        docs.select(
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit(textstats.TOKEN_PATTERN), 0
                )
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(100)
    )


_CLEAN_URL = r"https?://[^\s]+"
_CLEAN_EMAIL = r"[^\s@]+@[^\s@]+\.[^\s@]+"


@register(
    "text_clean_normalize",
    oracle=f"""
SELECT doc_id,
       trim(regexp_replace(
         regexp_replace(
           regexp_replace(lower(text), '{_CLEAN_URL}', '<url>', 'g'),
           '{_CLEAN_EMAIL}', '<email>', 'g'),
         '\\s+', ' ', 'g')) AS clean_text
FROM documents ORDER BY doc_id
""",
    tags=("llmops", "text"),
    notes="Corpus cleaning projection: lowercase, URL/email masking, "
    "whitespace collapse — pure codegen regexp chain, no shuffle; the "
    "regexes are RE2/Java-portable so DuckDB replays them verbatim.",
)
def text_clean_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    t = F.lower(F.col("text"))
    t = F.regexp_replace(t, _CLEAN_URL, "<url>")
    t = F.regexp_replace(t, _CLEAN_EMAIL, "<email>")
    t = F.trim(F.regexp_replace(t, r"\s+", " "))
    return docs.select("doc_id", t.alias("clean_text")).orderBy("doc_id")


@register(
    "tfidf_top_terms",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '{textstats.TOKEN_PATTERN}'))
           AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY doc_id, token
), dfreq AS (
  SELECT token, count(*) AS df FROM tf GROUP BY token
), n AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
         round(tf.tf * ln(n.n_docs / CAST(dfreq.df AS DOUBLE)), 6) AS tfidf
  FROM tf JOIN dfreq USING (token) CROSS JOIN n
), r AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, token) AS INT) AS rank
  FROM scored
)
SELECT doc_id, token, tf, df, tfidf, rank FROM r
WHERE rank <= 5 ORDER BY doc_id, rank
""",
    tags=("llmops", "text"),
    notes="Per-document top-5 TF-IDF terms (operators/textstats."
    "tfidf_top_terms): two partial-agg shuffles + a vocab-keyed join; "
    "corpus size N via a broadcast 1-row agg, no driver action.",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return textstats.tfidf_top_terms(docs, top_n=5)


@register(
    "text_redact_pii",
    oracle=f"""
WITH planted AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com phone +1-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' id 123-45-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS text
  FROM documents
)
-- sequential audit semantics (r9 review): each count is taken on the
-- text AS THAT REDACTION STEP SEES IT, so counts reconcile exactly with
-- the output even when one pattern's match consumes another's
, s1 AS (
  SELECT doc_id, text AS t0,
         regexp_replace(text, '{textstats.PII_PATTERNS["email"]}',
                        '<email>', 'g') AS t1
  FROM planted
), s2 AS (
  SELECT doc_id, t0, t1,
         regexp_replace(t1, '{textstats.PII_PATTERNS["gov_id"]}',
                        '<gov_id>', 'g') AS t2
  FROM s1
)
SELECT doc_id,
       regexp_replace(t2, '{textstats.PII_PATTERNS["phone"]}',
                      '<phone>', 'g') AS redacted_text,
       CAST(len(regexp_extract_all(t0, '{textstats.PII_PATTERNS["email"]}'))
            AS INT) AS n_email,
       CAST(len(regexp_extract_all(t1, '{textstats.PII_PATTERNS["gov_id"]}'))
            AS INT) AS n_gov_id,
       CAST(len(regexp_extract_all(t2, '{textstats.PII_PATTERNS["phone"]}'))
            AS INT) AS n_phone
FROM s2 ORDER BY doc_id
""",
    tags=("llmops", "text", "pii"),
    notes="PII redaction audit (operators/textstats.redact_pii) over "
    "documents with deterministically planted email/phone/SSN-shaped "
    "strings (fixture text is PII-free word soup): per-doc match counts + "
    "scrubbed text, codegen regexp chain, no shuffle. Patterns are "
    "RE2/Java-portable so the DuckDB oracle replays them verbatim.",
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    four = F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com phone +1-555-"),
            four,
            F.lit(" id 123-45-"),
            four,
        ).alias("text"),
    )
    return textstats.redact_pii(planted).orderBy("doc_id")


@register(
    "dedup_incremental_minhash",
    oracle=f"""
WITH {_duck_minhash_sig_cte(64, 1)}, {_duck_band_cte(64, 16)},
cand AS (
  SELECT DISTINCT a.doc_id AS corpus_id, b.doc_id AS batch_id
  FROM bands a JOIN bands b USING (bk)
  WHERE a.doc_id % 10 != 0 AND b.doc_id % 10 = 0
), scored AS (
  SELECT c.corpus_id, c.batch_id,{_DUCK_MINHASH_SCORE.format(np=64)}
  FROM cand c
  JOIN sig sa ON sa.doc_id = c.corpus_id
  JOIN sig sb ON sb.doc_id = c.batch_id
)
SELECT * FROM scored WHERE jaccard >= 0.5 ORDER BY corpus_id, batch_id
""",
    tags=("llmops", "dedup", "incremental"),
    notes="Incremental ingestion dedup (operators/dedup.build_minhash_index "
    "+ minhash_index_probe): 90% of documents become a persisted LSH index "
    "(docs + range-clustered band table); the remaining 10% probe it as a "
    "new batch — batch signatures broadcast against the band scan, corpus "
    "never re-shingled or shuffled. md5-derived shingle hashes; the oracle "
    "replays the corpus/batch band join (16 bands × 4 rows) and exact "
    "verification with the same seeded parameters.",
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..operators.dedup import build_minhash_index, minhash_index_probe
    from ..sources import scratch_dir

    docs = load_table(spark, "documents", sf_dir)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    # keyed by sf_dir AND pid (scratch_dir): same-sf concurrent processes
    # would otherwise rebuild the index under a reader (same race class
    # as avro_roundtrip_orders, r8); scratch_dir also atexit-cleans and
    # reaps dead-pid leftovers so the uniqueness isn't a /tmp leak. The
    # sf_dir digest must be STABLE across processes (md5, not the
    # per-process-salted builtin hash()) or the reaper — which matches
    # on its own prefix — can never see another (crashed) process's
    # dirs and the leak protection is defeated (r9 review).
    import hashlib

    sf_key = hashlib.md5(
        os.path.abspath(sf_dir).encode("utf-8")
    ).hexdigest()[:8]
    path = scratch_dir(f"sparkgraft-mhidx-{sf_key}")
    build_minhash_index(corpus, path)
    return minhash_index_probe(spark, path, batch)


@register(
    "ann_int8_topk",
    oracle="""
WITH base AS (
  SELECT vec_id,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
  FROM embeddings
), q8 AS (
  SELECT e.vec_id,
         CASE WHEN b.scale > 0 THEN
           list_transform(e.embedding,
               x -> CAST(round(CAST(x AS DOUBLE) / b.scale * 127) AS INT))
         ELSE list_transform(e.embedding, x -> 0) END AS qvec
  FROM embeddings e JOIN base b USING (vec_id)
), qq AS (
  SELECT vec_id AS query_id, qvec AS qv FROM q8 WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         CAST(list_sum(list_transform(generate_series(1, len(q.qv)),
              i -> CAST(q.qv[i] AS BIGINT) * c.qvec[i])) AS BIGINT) AS dot
  FROM qq q CROSS JOIN q8 c
), r AS (
  SELECT query_id, neighbor_id, dot,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY dot DESC, neighbor_id) AS INT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, dot, rank FROM r WHERE rank <= 10
ORDER BY query_id, rank
""",
    tags=("llmops", "similarity", "quantization"),
    notes="Int8-quantized dot-product top-10 (similarity.int8_topk): "
    "per-vector scale = max|v|, q = round(v/scale*127); scoring is exact "
    "integer arithmetic, so even the ANN ranking is fully oracle-checkable "
    "— and the quantized corpus reads 4x fewer bytes per score at scale.",
)
def ann_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.int8_topk(emb, queries, k=10, query_id_col="query_id")


def _duck_kmeans_norm(i: int, raw: str) -> str:
    """Normalization CTE pair for one centroid frame: decimal squared-norm
    sum (order-free) → identical double divisor in both engines; zero-norm
    centroids pass through (same CASE as _normalize_centroid_rows)."""
    return f"""n{i} AS (
  SELECT list_id, sqrt(CAST(sum(CAST(c * c AS DECIMAL(38,10))) AS DOUBLE)) AS nrm
  FROM {raw} GROUP BY list_id
), c{i} AS (
  SELECT r.list_id, r.pos,
         CASE WHEN n{i}.nrm > 0 THEN r.c / n{i}.nrm ELSE r.c END AS c
  FROM {raw} r JOIN n{i} USING (list_id)
)"""


def _duck_kmeans_iter(i: int) -> str:
    """One unrolled Lloyd step of the DuckDB k-means twin: decimal-exact
    dots vs c{i-1}, argmax assignment (ties → smallest list_id), per-dim
    decimal-mean update with empty clusters keeping their previous
    centroid, then normalization — mirrors kmeans_clusters'
    loop body expression for expression."""
    p = i - 1
    return f"""d{i} AS (
  SELECT xe.id, c{p}.list_id,
         CAST(sum(CAST(xe.x * c{p}.c AS DECIMAL(38,10))) AS DOUBLE) AS dot
  FROM xe JOIN c{p} ON c{p}.pos = xe.pos GROUP BY xe.id, c{p}.list_id
), a{i} AS (
  SELECT id, list_id FROM (
    SELECT id, list_id,
           row_number() OVER (PARTITION BY id ORDER BY dot DESC, list_id) AS rn
    FROM d{i}
  ) WHERE rn = 1
), m{i} AS (
  SELECT a{i}.list_id, xe.pos,
         CAST(sum(CAST(xe.x AS DECIMAL(38,10))) AS DOUBLE) / count(*) AS m
  FROM xe JOIN a{i} ON a{i}.id = xe.id GROUP BY a{i}.list_id, xe.pos
), r{i} AS (
  SELECT c{p}.list_id, c{p}.pos, coalesce(m{i}.m, c{p}.c) AS c
  FROM c{p} LEFT JOIN m{i} ON m{i}.list_id = c{p}.list_id AND m{i}.pos = c{p}.pos
), {_duck_kmeans_norm(i, f"r{i}")}"""


def _duck_kmeans_prefix(
    n_centroids: int, refine_iters: int, corpus_cte: str | None = None
) -> str:
    """Shared WITH-body prefix of every kmeans-twin oracle (profile +
    portable IVF): src → exploded xe → md5-parity seeds → seeded frame
    r0 → normalized c0 → unrolled Lloyd iterations through c{last}.
    Single-sourced so the trainer replay can never drift between the
    entries that consume it (r13: ann_ivf_topk graduation reuses the
    trainer that made embedding_cluster_profile exact).

    ``corpus_cte`` swaps the raw embeddings table for a derived corpus
    (the ``_duck_lsh_topk_sql`` pattern — r13: the planted-cluster
    corpus ``duck_clustered_cte`` for the ann_ivf_topk_clustered
    graduation)."""
    iters = ", ".join(
        _duck_kmeans_iter(i) for i in range(1, refine_iters + 1)
    )
    corpus_head = f"corpus AS ({corpus_cte}), " if corpus_cte else ""
    src_table = "corpus" if corpus_cte else "embeddings"
    return f"""{corpus_head}src AS (
  SELECT vec_id, embedding FROM {src_table} WHERE embedding IS NOT NULL
), xe AS (
  SELECT vec_id AS id,
         unnest(generate_series(1, len(embedding))) - 1 AS pos,
         unnest(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS x
  FROM src
), seeds AS (
  SELECT id, list_id FROM (
    SELECT vec_id AS id,
           CAST(row_number() OVER (
             ORDER BY {_duck_phash("CAST(vec_id AS VARCHAR)")}, vec_id
           ) AS INT) - 1 AS list_id
    FROM src
  ) WHERE list_id < {n_centroids}
), r0 AS (
  SELECT s.list_id, xe.pos, xe.x AS c FROM xe JOIN seeds s ON s.id = xe.id
), {_duck_kmeans_norm(0, "r0")}, {iters}"""


def _duck_kmeans_profile_sql(n_centroids: int, refine_iters: int) -> str:
    """Full DuckDB twin of kmeans_clusters + the per-cluster
    profile aggregate (VERDICT r11 task 4a): unrolled Lloyd iterations
    exactly as embedding_pca_power_iteration / pagerank_fixed_point
    unroll theirs."""
    last = refine_iters
    return f"""
WITH {_duck_kmeans_prefix(n_centroids, refine_iters)},
df AS (
  SELECT xe.id, c{last}.list_id,
         CAST(sum(CAST(xe.x * c{last}.c AS DECIMAL(38,10))) AS DOUBLE) AS dot
  FROM xe JOIN c{last} ON c{last}.pos = xe.pos GROUP BY xe.id, c{last}.list_id
), af AS (
  SELECT id, list_id, dot FROM (
    SELECT id, list_id, dot,
           row_number() OVER (PARTITION BY id ORDER BY dot DESC, list_id) AS rn
    FROM df
  ) WHERE rn = 1
), xn AS (
  SELECT id, sqrt(CAST(sum(CAST(x * x AS DECIMAL(38,10))) AS DOUBLE)) AS xn
  FROM xe GROUP BY id
), cnrm AS (
  SELECT list_id, sqrt(CAST(sum(CAST(c * c AS DECIMAL(38,10))) AS DOUBLE)) AS cn
  FROM c{last} GROUP BY list_id
), cosr AS (
  SELECT af.list_id,
         round(af.dot / nullif(xn.xn * cnrm.cn, 0.0), 6) AS cos
  FROM af JOIN xn ON xn.id = af.id JOIN cnrm ON cnrm.list_id = af.list_id
)
SELECT list_id, CAST(count(*) AS BIGINT) AS n_vecs,
       round(CAST(sum(CAST(cos AS DECIMAL(38,10))) AS DOUBLE) / count(cos), 6)
         AS avg_cos
FROM cosr GROUP BY list_id ORDER BY list_id
"""


@register(
    "embedding_cluster_profile",
    oracle=_duck_kmeans_profile_sql(16, 2),
    tags=("llmops", "similarity", "clustering"),
    notes="Deterministic spherical k-means profile, now FULLY oracle-"
    "checked (VERDICT r11 task 4a): kmeans_clusters seeds from "
    "the md5-parity (portable_hash64) order, runs 2 Lloyd iterations with "
    "every inner product / mean / norm a DECIMAL(38,10) sum, and the "
    "DuckDB twin unrolls the identical iterations (the pca_power_iteration "
    "discipline) — labels, sizes, and mean cosines hash-match exactly. "
    "Labels drive diversity sampling/quotas; the same trainer and labels "
    "build the IVF index lists (ivf_topk, build_ivf_index).",
)
def embedding_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    labeled = similarity.kmeans_clusters(
        emb, n_centroids=16, refine_iters=2
    )
    prof = (
        labeled.groupBy("list_id")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(
                F.sum(
                    F.col("cos_to_centroid").cast("decimal(38,10)")
                ).cast("double")
                / F.count("cos_to_centroid"),
                6,
            ).alias("avg_cos"),
        )
        .orderBy("list_id")
    )
    # The profile is ≤16 rows by construction; collecting it and
    # rebuilding a one-slice frame skips the range sort's sampling job
    # and 32-task exchange (see _localized_sorted).
    rows = prof.collect()
    return _localized_sorted(spark, rows, prof.schema, "list_id")


def _duck_ivf_topk_sql(
    n_centroids: int,
    refine_iters: int,
    n_probe: int,
    k: int,
    corpus_cte: str | None = None,
) -> str:
    """Full DuckDB twin of ivf_topk (VERDICT r12 task 2b):
    the shared Lloyd unroll (_duck_kmeans_prefix — the trainer replay
    that made embedding_cluster_profile exact) yields c{last}; then one
    dot frame serves BOTH the corpus labels (rn = 1) and the query
    probes (rn <= n_probe over the query subset — queries are corpus
    rows vec_id < 5), the candidate set is the probe×label equi-join on
    list_id, and the rerank replays the established exact-cosine
    discipline. Every step deterministic → full top-k hash-match.
    The rerank joins ``src`` (the prefix's non-null corpus CTE), so a
    ``corpus_cte`` override (r13: ann_ivf_topk_clustered) reranks over
    the same derived corpus the trainer saw."""
    last = refine_iters
    return f"""
WITH {_duck_kmeans_prefix(n_centroids, refine_iters, corpus_cte)},
ldot AS (
  SELECT xe.id, c{last}.list_id,
         CAST(sum(CAST(xe.x * c{last}.c AS DECIMAL(38,10))) AS DOUBLE) AS dot
  FROM xe JOIN c{last} ON c{last}.pos = xe.pos GROUP BY xe.id, c{last}.list_id
), lab AS (
  SELECT id AS neighbor_id, list_id FROM (
    SELECT id, list_id,
           row_number() OVER (PARTITION BY id ORDER BY dot DESC, list_id) AS rn
    FROM ldot
  ) WHERE rn = 1
), probes AS (
  SELECT id AS query_id, list_id FROM (
    SELECT id, list_id,
           row_number() OVER (PARTITION BY id ORDER BY dot DESC, list_id) AS rn
    FROM ldot WHERE id < 5
  ) WHERE rn <= {n_probe}
), cand AS (
  SELECT p.query_id, l.neighbor_id FROM probes p JOIN lab l USING (list_id)
), scored AS (
  SELECT cand.query_id, cand.neighbor_id,
         {_duck_cosine('qe.embedding', 'ce.embedding')} AS cosine
  FROM cand
  JOIN src qe ON qe.vec_id = cand.query_id
  JOIN src ce ON ce.vec_id = cand.neighbor_id
), r AS (
  SELECT query_id, neighbor_id, cosine,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= {k}
ORDER BY query_id, rank
"""


@register(
    "ann_ivf_topk",
    oracle=_duck_ivf_topk_sql(16, 2, 8, 10),
    tags=("llmops", "similarity"),
    notes="IVF ANN: 16 Lloyd-refined cosine centroids, 8-probe candidate "
    "join on list_id, exact rerank. At scale the labeled corpus persists "
    "partitionBy(list_id) so probes become partition-pruned scans. "
    "Graduated to a FULL DuckDB oracle (r13, VERDICT r12 task 2b): "
    "the trainer uses md5-parity seeding + decimal-exact Lloyd "
    "steps whose centroids round-trip the driver as literals "
    "(_portable_centroid_literals — one scan + a k·dim-group aggregate "
    "per iteration, the corpus never shuffles), and the DuckDB twin "
    "unrolls the identical iterations, so lists, probes, candidates, "
    "and the full top-k hash-match. Recall at this operating point "
    "keeps its pytest floor vs brute-force cosine. The persisted index "
    "(build_ivf_index + ivf_index_topk) returns these exact rows.",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivf_topk(
        emb, queries, k=10, n_centroids=16, n_probe=8,
        query_id_col="query_id",
    )


@register(
    "ann_ivf_topk_clustered",
    oracle=_duck_ivf_topk_sql(16, 2, 1, 10, corpus_cte=duck_clustered_cte()),
    tags=("llmops", "similarity"),
    notes="IVF ANN at its best measured operating point: 16 spherical "
    "k-means lists over the planted-cluster corpus (clustered_embeddings), "
    "n_probe=1 — each query reads exactly 1/16 of the corpus at high "
    "recall (BASELINE.md clustered IVF curve), the best economics in the "
    "ANN family because the data-adaptive partition aligns with the real "
    "clusters. At warehouse scale the labeled corpus persists "
    "partitionBy(list_id) (build_ivf_index) so this probe is a "
    "partition-pruned scan of 1/16 of the data. Graduated to a FULL "
    "DuckDB oracle (r13, extending VERDICT r12 task 2b): the "
    "decimal-exact Lloyd trainer over the md5-replayed corpus "
    "(_duck_kmeans_prefix(corpus_cte=duck_clustered_cte)) — lists, "
    "probes, candidates, and the full top-k hash-match. Retrieval "
    "quality keeps its planted-truth pytest floor "
    "(test_ivf_clustered_portable_recall) vs brute-force cosine.",
)
def ann_ivf_topk_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persist/collect/release: see ann_lsh_topk_clustered — the
    # trainer scans the corpus several times (seeding + 2 Lloyd
    # iterations + labels + rerank) and the md5 corpus expression is the
    # dominant per-scan cost when re-evaluated (r13 measurement).
    emb = clustered_embeddings(spark, sf_dir).persist()
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ivf_topk(
        emb, queries, k=10, n_centroids=16, n_probe=1,
        query_id_col="query_id",
    )
    rows = out.collect()
    emb.unpersist()
    return _localized_sorted(spark, rows, out.schema, "query_id", "rank")


def _be32(col):
    """4-byte big-endian binary of an int expression (shared by the
    multimodal payload packers — r9 review: was redefined nested in four
    entries; one definition keeps the byte layout single-sourced)."""
    return F.unhex(F.lpad(F.hex(col.cast("int")), 8, "0"))


def _le(col, n_bytes):
    """n-byte little-endian binary of an int expression (see _be32)."""
    hx = F.lpad(F.hex(col.cast("bigint")), n_bytes * 2, "0")
    rev = F.concat(
        *[F.substring(hx, i * 2 + 1, 2) for i in range(n_bytes - 1, -1, -1)]
    )
    return F.unhex(rev)


@register(
    "multimodal_image_meta",
    oracle="""
SELECT doc_id AS media_id, 'png' AS format,
       CAST(1 + doc_id % 512 AS INT) AS width,
       CAST(1 + doc_id % 384 AS INT) AS height,
       33 AS n_bytes
FROM documents ORDER BY media_id
""",
    tags=("llmops", "multimodal"),
    notes="Round-trip proof of the REAL image metadata decode: valid PNG "
    "IHDR headers are constructed as binary from doc_id arithmetic with "
    "JVM expressions (unhex/lpad/hex big-endian packing), then parsed back "
    "by sniff_image_headers' byte-offset walk (Arrow-batched mapInPandas). "
    "The oracle replays the arithmetic the bytes encode — any drift in the "
    "binary layout or the parser breaks the hash.",
)
def multimodal_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)

    w = F.lit(1) + F.col("doc_id") % 512
    h = F.lit(1) + F.col("doc_id") % 384
    payload = F.concat(
        F.unhex(F.lit("89504E470D0A1A0A")),  # PNG magic
        F.unhex(F.lit("0000000D")),          # IHDR length 13
        F.encode(F.lit("IHDR"), "utf-8"),
        _be32(w), _be32(h),
        F.unhex(F.lit("0806000000")),        # bit depth + color + crc pad
        F.unhex(F.lit("00000000")),
    )
    media = docs.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))
    return multimodal.sniff_image_headers(media).orderBy("media_id")


@register(
    "multimodal_audio_meta",
    oracle="""
SELECT doc_id AS media_id, 'wav' AS format,
       CAST(8000 + (doc_id % 8) * 1000 AS INT) AS sample_rate,
       CAST(1 + doc_id % 2 AS INT) AS channels,
       CAST((1 + doc_id % 5) * 1000 AS BIGINT) AS duration_ms,
       44 AS n_bytes
FROM documents ORDER BY media_id
""",
    tags=("llmops", "multimodal"),
    notes="Audio twin of multimodal_image_meta: valid WAV RIFF/fmt/data "
    "headers packed little-endian from doc_id arithmetic with JVM "
    "expressions, parsed back by sniff_audio_headers' chunk walk; the "
    "oracle replays the encoded arithmetic (duration = data_len/byte_rate "
    "is exact integer seconds by construction).",
)
def multimodal_audio_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)

    rate = F.lit(8000) + (F.col("doc_id") % 8) * 1000
    channels = F.lit(1) + F.col("doc_id") % 2
    byte_rate = rate * channels * 2
    data_len = byte_rate * (F.lit(1) + F.col("doc_id") % 5)
    payload = F.concat(
        F.encode(F.lit("RIFF"), "utf-8"), _le(F.lit(36), 4),
        F.encode(F.lit("WAVE"), "utf-8"),
        F.encode(F.lit("fmt "), "utf-8"), _le(F.lit(16), 4),
        _le(F.lit(1), 2), _le(channels, 2), _le(rate, 4), _le(byte_rate, 4),
        _le(channels * 2, 2), _le(F.lit(16), 2),
        F.encode(F.lit("data"), "utf-8"), _le(data_len, 4),
    )
    media = docs.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))
    return multimodal.sniff_audio_headers(media).orderBy("media_id")


@register(
    "multimodal_video_meta",
    oracle="""
SELECT doc_id AS media_id, 'mp4' AS format, 'isom' AS major_brand,
       CAST(600 AS INT) AS timescale,
       CAST((1 + doc_id % 50) * 1000 AS BIGINT) AS duration_ms,
       CAST(1 + doc_id % 3 AS INT) AS n_tracks,
       CAST(140 + 8 * (doc_id % 3) AS INT) AS n_bytes
FROM documents ORDER BY media_id
""",
    tags=("llmops", "multimodal"),
    notes="Video member of the multimodal round-trips: minimal valid "
    "ISO-BMFF payloads (ftyp + moov{mvhd v0 + 1-3 trak boxes}) packed "
    "big-endian from doc_id arithmetic with JVM expressions, parsed back "
    "by sniff_video_headers' box walk; timescale 600 with duration "
    "(1+doc_id%50)*600 makes duration_ms an exact integer the oracle "
    "replays. Populates meta.duration_ms for frame_sample_plan.",
)
def multimodal_video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)

    dur = (F.lit(1) + F.col("doc_id") % 50) * 600
    n_trak = F.lit(1) + F.col("doc_id") % 3
    mvhd = F.concat(
        _be32(F.lit(108)), F.encode(F.lit("mvhd"), "utf-8"),
        F.unhex(F.lit("00" * 4)),   # version 0 + flags
        F.unhex(F.lit("00" * 8)),   # creation + modification time
        _be32(F.lit(600)), _be32(dur),
        F.unhex(F.lit("00" * 80)),  # rate/volume/reserved/matrix/next_track
    )
    trak = F.concat(_be32(F.lit(8)), F.encode(F.lit("trak"), "utf-8"))
    empty = F.unhex(F.lit(""))
    payload = F.concat(
        _be32(F.lit(16)), F.encode(F.lit("ftyp"), "utf-8"),
        F.encode(F.lit("isom"), "utf-8"), F.unhex(F.lit("00000200")),
        _be32(F.lit(116) + n_trak * 8), F.encode(F.lit("moov"), "utf-8"),
        mvhd,
        trak,
        F.when(F.col("doc_id") % 3 >= 1, trak).otherwise(empty),
        F.when(F.col("doc_id") % 3 >= 2, trak).otherwise(empty),
    )
    media = docs.select(F.col("doc_id").alias("media_id"), payload.alias("payload"))
    return multimodal.sniff_video_headers(media).orderBy("media_id")


def _bmp_header_hex(w: int, h: int) -> str:
    """Constant BITMAPFILEHEADER+BITMAPINFOHEADER for a 24-bit BI_RGB w×h
    BMP, as hex for a JVM unhex literal (layout per the public spec)."""
    import struct

    row_size = ((24 * w + 31) // 32) * 4
    hdr = (
        b"BM"
        + struct.pack("<IHHI", 54 + row_size * h, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, row_size * h, 0, 0, 0, 0)
    )
    return hdr.hex().upper()


@register(
    "multimodal_bmp_pixels",
    oracle="""
WITH m AS (
  SELECT doc_id,
         list_transform(generate_series(0, 5),
             i -> CAST((doc_id*7 + (i // 3)*16 + (i % 3)*4) % 256 AS DOUBLE)) AS bs,
         list_transform(generate_series(0, 5),
             i -> CAST((doc_id*7 + (i // 3)*16 + (i % 3)*4 + 1) % 256 AS DOUBLE)) AS gs,
         list_transform(generate_series(0, 5),
             i -> CAST((doc_id*7 + (i // 3)*16 + (i % 3)*4 + 2) % 256 AS DOUBLE)) AS rs
  FROM documents
), s AS (
  SELECT doc_id,
         list_sum(bs)/6.0 AS mb, list_sum(gs)/6.0 AS mg, list_sum(rs)/6.0 AS mr
  FROM m
)
SELECT doc_id AS media_id, CAST(3 AS INT) AS width, CAST(2 AS INT) AS height,
       CAST(6 AS INT) AS n_pixels,
       round(mb, 6) AS mean_b, round(mg, 6) AS mean_g, round(mr, 6) AS mean_r,
       round(0.299*mr + 0.587*mg + 0.114*mb, 6) AS mean_luma
FROM s ORDER BY media_id
""",
    tags=("llmops", "multimodal"),
    notes="REAL BMP pixel decode (operators/multimodal.decode_bmp_pixels): "
    "valid 3×2 24-bit BI_RGB payloads packed from doc_id arithmetic with "
    "JVM expressions (bottom-up rows, 4-byte padding), decoded back by the "
    "numpy row-walk; the oracle replays the per-pixel channel arithmetic. "
    "Closes the uncompressed half of the decode_media image path.",
)
def multimodal_bmp_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)

    def b1(col):  # 1-byte binary of an int expression in [0, 256)
        return F.unhex(F.lpad(F.hex(col.cast("bigint")), 2, "0"))

    parts = [F.unhex(F.lit(_bmp_header_hex(3, 2)))]
    for y in (1, 0):  # positive height ⇒ rows stored bottom-up
        for x in range(3):
            for c in range(3):
                parts.append(
                    b1((F.col("doc_id") * 7 + y * 16 + x * 4 + c) % 256)
                )
        parts.append(F.unhex(F.lit("000000")))  # row pad: 9 → 12 bytes
    media = docs.select(
        F.col("doc_id").alias("media_id"), F.concat(*parts).alias("payload")
    )
    out = multimodal.decode_bmp_pixels(media)
    return out.select(
        "media_id", "width", "height", "n_pixels",
        F.round("mean_b", 6).alias("mean_b"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_luma", 6).alias("mean_luma"),
    ).orderBy("media_id")


@register(
    "multimodal_wav_pcm",
    oracle="""
WITH s AS (
  SELECT doc_id, list_transform(generate_series(0, 7),
      i -> CAST((doc_id*13 + i*5) % 2001 - 1000 AS DOUBLE)) AS smp
  FROM documents
)
SELECT doc_id AS media_id,
       CAST(8000 + (doc_id % 8)*1000 AS INT) AS sample_rate,
       CAST(1 AS INT) AS channels, CAST(8 AS BIGINT) AS n_frames,
       round(list_sum(list_transform(smp, x -> abs(x)))/8.0, 6) AS mean_abs,
       round(sqrt(list_sum(list_transform(smp, x -> x*x))/8.0), 6) AS rms,
       CAST(list_max(list_transform(smp, x -> abs(x))) AS INT) AS peak
FROM s ORDER BY media_id
""",
    tags=("llmops", "multimodal"),
    notes="REAL WAV PCM decode (operators/multimodal.decode_wav_samples): "
    "valid 16-bit mono PCM payloads (8 signed samples from doc_id "
    "arithmetic, packed little-endian two's-complement with JVM "
    "expressions) decoded back by the numpy frame parse; the oracle "
    "replays the amplitude statistics. Audio twin of multimodal_bmp_pixels.",
)
def multimodal_wav_pcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)

    rate = F.lit(8000) + (F.col("doc_id") % 8) * 1000
    parts = [
        F.encode(F.lit("RIFF"), "utf-8"), _le(F.lit(36 + 16), 4),
        F.encode(F.lit("WAVE"), "utf-8"),
        F.encode(F.lit("fmt "), "utf-8"), _le(F.lit(16), 4),
        _le(F.lit(1), 2), _le(F.lit(1), 2), _le(rate, 4), _le(rate * 2, 4),
        _le(F.lit(2), 2), _le(F.lit(16), 2),
        F.encode(F.lit("data"), "utf-8"), _le(F.lit(16), 4),
    ]
    for i in range(8):
        s_i = (F.col("doc_id") * 13 + i * 5) % 2001 - 1000
        parts.append(_le((s_i + 65536) % 65536, 2))  # two's complement int16
    media = docs.select(
        F.col("doc_id").alias("media_id"), F.concat(*parts).alias("payload")
    )
    out = multimodal.decode_wav_samples(media)
    return out.select(
        "media_id", "sample_rate", "channels", "n_frames",
        F.round("mean_abs", 6).alias("mean_abs"),
        F.round("rms", 6).alias("rms"),
        "peak",
    ).orderBy("media_id")


@register(
    "dedup_cluster_groups_exact",
    oracle=f"""
WITH RECURSIVE p AS (
  SELECT id_a, id_b FROM ({_DUCK_JACCARD})
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
""",
    tags=("llmops", "dedup", "clustering"),
    notes="Connected components over the EXACT n-gram Jaccard pair graph — "
    "the distributed label propagation (dedup.dedup_clusters, O(diameter) "
    "rounds of join+min-agg) is oracle-checked against a DuckDB recursive-"
    "CTE transitive closure. The MinHash variant stays rows-only "
    "(xxhash64 pairs have no SQL twin); this entry proves the clustering "
    "itself bit-exact.",
)
def dedup_cluster_groups_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    pairs = dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.5, max_bucket=1000)
    return dedup.dedup_clusters(pairs)


register_sql(
    "embedding_avg_pool",
    spark_sql="""
SELECT label, pos,
       round(CAST(sum(CAST(v AS DECIMAL(38,10))) AS DOUBLE) / count(v), 6)
         AS avg_v,
       count(*) AS n_vecs
FROM embeddings LATERAL VIEW posexplode(embedding) t AS pos, v
GROUP BY label, pos
ORDER BY label, pos
""",
    duck_sql="""
SELECT label, pos,
       round(CAST(sum(CAST(v AS DECIMAL(38,10))) AS DOUBLE) / count(v), 6)
         AS avg_v,
       count(*) AS n_vecs
FROM (
  SELECT label,
         unnest(generate_series(1, len(embedding))) - 1 AS pos,
         unnest(embedding) AS v
  FROM embeddings
)
GROUP BY label, pos
ORDER BY label, pos
""",
    tags=("llmops", "embedding", "aggregation"),
    notes="Per-class embedding average pooling (centroid in long form): "
    "posexplode -> (label, pos) hash agg — fully partial-aggregated, one "
    "shuffle of n_labels x dim tiny groups; the class-centroid / "
    "mean-pooling step of embedding pipelines. Decimal-sum discipline for "
    "cross-engine bit equality.",
)


register_sql(
    "doc_unigram_logprob",
    spark_sql="""
WITH toks AS (
  SELECT doc_id, explode(array_remove(split(text, '\\\\s+'), '')) AS tok FROM documents
), vocab AS (
  SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
), tot AS (
  SELECT sum(cnt) AS n FROM vocab
)
SELECT t.doc_id,
       count(*) AS n_tokens,
       round(CAST(sum(CAST(-ln(v.cnt / CAST(tot.n AS DOUBLE))
                           AS DECIMAL(38,10))) AS DOUBLE) / count(*), 6)
         AS mean_neg_logprob
FROM toks t JOIN vocab v ON t.tok = v.tok CROSS JOIN tot
GROUP BY t.doc_id
ORDER BY t.doc_id
""",
    duck_sql="""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS tok
  FROM documents
), vocab AS (
  SELECT tok, count(*) AS cnt FROM toks GROUP BY tok
), tot AS (
  SELECT sum(cnt) AS n FROM vocab
)
SELECT t.doc_id,
       count(*) AS n_tokens,
       round(CAST(sum(CAST(-ln(v.cnt / CAST(tot.n AS DOUBLE))
                           AS DECIMAL(38,10))) AS DOUBLE) / count(*), 6)
         AS mean_neg_logprob
FROM toks t JOIN vocab v ON t.tok = v.tok CROSS JOIN tot
GROUP BY t.doc_id
ORDER BY t.doc_id
""",
    tags=("llmops", "text", "quality"),
    notes="CCNet-style unigram language-model quality score: corpus "
    "unigram frequencies -> per-doc mean negative log-probability (high = "
    "rare/garbled text, low = stereotypical text). Vocab join is keyed on "
    "the token (shuffle-colocated with the token explode); the 1-row "
    "total broadcasts. Decimal-sum over the ln terms for cross-engine "
    "determinism.",
)


@register(
    "vocab_heavy_hitters_approx",
    oracle=None,  # Datasketches frequent-items has no DuckDB twin —
    # rows-only; exactness vs the true top-k is pytest-asserted.
    tags=("llmops", "text", "sketch"),
    notes="Approximate heavy hitters over the token stream via "
    "approx_top_k (Datasketches frequent-items): ONE pass, fixed "
    "maxItemsTracked state per partition, mergeable partials — the "
    "scale path when the vocabulary itself no longer fits a hash "
    "aggregate (exact twin: vocab_top_tokens). Estimates are exact "
    "while distinct tokens <= maxItemsTracked.",
)
def vocab_heavy_hitters_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit(textstats.TOKEN_PATTERN), 0
            )
        ).alias("token")
    )
    top = toks.select(
        F.expr("approx_top_k(token, 20, 100000)").alias("hh")
    ).select(F.explode("hh").alias("e"))
    return top.select(
        F.col("e.item").alias("token"), F.col("e.count").alias("est_count")
    ).orderBy(F.col("est_count").desc(), "token")


def _duck_required_words() -> str:
    words = ", ".join(f"'{w}'" for w in textstats.GOPHER_REQUIRED_WORDS)
    return f"[{words}]"


@register(
    "text_gopher_rules",
    oracle=f"""
WITH base AS (
  SELECT doc_id,
         {_DUCK_WORDS} AS words,
         string_split(text, chr(10)) AS lines,
         length(regexp_replace(text, '\\s+', '', 'g')) AS n_nonspace,
         len(regexp_extract_all(text, '[#…]|\\.\\.\\.')) AS n_symbols
  FROM documents
),
feat AS (
  SELECT doc_id,
         len(words) AS n_words,
         n_nonspace / nullif(CAST(len(words) AS DOUBLE), 0.0) AS mwl,
         n_symbols / nullif(CAST(len(words) AS DOUBLE), 0.0) AS swr,
         len(list_filter(lines, l -> regexp_matches(l, '^\\s*[-*•]')))
           / nullif(CAST(len(lines) AS DOUBLE), 0.0) AS fbl,
         len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$')))
           / nullif(CAST(len(lines) AS DOUBLE), 0.0) AS fel,
         len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]')))
           / nullif(CAST(len(words) AS DOUBLE), 0.0) AS faw,
         len(list_filter(words,
             w -> list_contains({_duck_required_words()}, lower(w)))) AS n_req
  FROM base
)
SELECT doc_id, n_words,
       round(mwl, 6) AS mean_word_len,
       round(swr, 6) AS symbol_word_ratio,
       round(fbl, 6) AS frac_bullet_lines,
       round(fel, 6) AS frac_ellipsis_lines,
       round(faw, 6) AS frac_alpha_words,
       n_req AS n_required_hits,
       (n_words BETWEEN 50 AND 100000) AND (mwl BETWEEN 3 AND 10)
         AND swr <= 0.1 AND fbl <= 0.9 AND fel <= 0.3 AND faw >= 0.8
         AND n_req >= 2 AS passes_gopher
FROM feat ORDER BY doc_id
""",
    tags=("llmops", "text", "curation"),
    notes="Gopher-style rule filter (Rae et al. 2021 public recipe): word "
    "count / mean word length bands, symbol-per-word and bullet/ellipsis "
    "line fractions, alpha-word fraction, required-word hits — all codegen "
    "JVM expressions, no shuffle. The oracle replays every rule in DuckDB "
    "list lambdas.",
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return textstats.gopher_quality_flags(docs).select(
        "doc_id", "n_words", "mean_word_len", "symbol_word_ratio",
        "frac_bullet_lines", "frac_ellipsis_lines", "frac_alpha_words",
        "n_required_hits", "passes_gopher",
    ).orderBy("doc_id")


@register(
    "anonymize_customer_ids",
    oracle="""
SELECT c_custkey,
       CASE WHEN c_name IS NULL THEN NULL
            ELSE sha256('corpus-v1' || '|' || c_name) END AS c_name,
       c_mktsegment
FROM customer ORDER BY c_custkey
""",
    tags=("llmops", "anonymize"),
    notes="Deterministic salted SHA-256 pseudonymization of an identifier "
    "column (operators/anonymize.py) — narrow codegen sha2, join-preserving "
    "across tables/runs; DuckDB's sha256 produces the identical hex digest.",
)
def anonymize_customer_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.anonymize import pseudonymize

    cust = load_table(spark, "customer", sf_dir)
    return pseudonymize(cust, ["c_name"], salt="corpus-v1").select(
        "c_custkey", "c_name", "c_mktsegment"
    ).orderBy("c_custkey")


@register(
    "k_anonymity_customer",
    oracle="""
WITH sizes AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS sz
  FROM customer GROUP BY c_nationkey, c_mktsegment
)
SELECT CAST(sum(sz) AS BIGINT) AS n_rows,
       count(*) AS n_groups,
       min(sz) AS min_group_size,
       CAST(sum(CASE WHEN sz < 10 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_small_groups,
       CAST(sum(CASE WHEN sz < 10 THEN sz ELSE 0 END) AS BIGINT)
         AS rows_at_risk,
       round(sum(CASE WHEN sz < 10 THEN sz ELSE 0 END)
             / CAST(sum(sz) AS DOUBLE), 6) AS frac_at_risk
FROM sizes
""",
    tags=("llmops", "anonymize"),
    notes="k-anonymity audit (k=10) over the (nation, segment) "
    "quasi-identifier pair: equivalence-class sizes in one hash-agg "
    "shuffle, then a single-row rollup — the release gate that says "
    "whether pseudonymized rows are still re-identifiable by their "
    "quasi-identifiers.",
)
def k_anonymity_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.anonymize import k_anonymity_report

    cust = load_table(spark, "customer", sf_dir)
    return k_anonymity_report(cust, ["c_nationkey", "c_mktsegment"], k=10)


@register(
    "dedup_shared_substring",
    oracle="""
WITH g AS (
  SELECT DISTINCT doc_id, substr(text, i, 32) AS g
  FROM documents,
       unnest(generate_series(1, greatest(0, len(text) - 31))) AS t(i)
),
hot AS (SELECT g FROM g GROUP BY g HAVING count(*) > 64),
kept AS (SELECT * FROM g WHERE g NOT IN (SELECT g FROM hot))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       count(*) AS n_shared_windows
FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id
GROUP BY 1, 2 ORDER BY id_a, id_b
""",
    tags=("llmops", "dedup"),
    notes="Exact long-common-substring detection (Lee et al. 2022 "
    "semantics at 32-char window granularity) via an inverted index on "
    "hashed char windows — no false negatives at the window size, no "
    "suffix array needed. rolling=True: O(len)-per-doc polynomial "
    "rolling hash mod 2^64 in an Arrow-batched kernel emitting "
    "per-doc-unique postings (no DISTINCT shuffle) — measured 2.1x the "
    "former md5-portable mode at the 10x boilerplate stress "
    "(BASELINE.md r7). Hash values are "
    "internal: the oracle replays the pipeline on EXACT raw 32-char "
    "substrings (stronger than the old hash-for-hash md5 replay — zero "
    "oracle-side collision surface; a Spark-side 64-bit collision would "
    "surface as a count mismatch, probability ~n²/2^65). "
    "max_postings=64 caps the per-window self-join fan-out at C(64,2) "
    "pairs, bounding the skewed-key quadratic blow-up corpus-wide "
    "boilerplate would otherwise cause; dropped windows occur in >64 "
    "docs, i.e. are boilerplate by construction, not memorization spans "
    "(operators/dedup.py shared_span_pairs).",
)
def dedup_shared_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return (
        dedup.shared_span_pairs(docs, span=32, rolling=True, max_postings=64)
        .orderBy("id_a", "id_b")
    )


@register(
    "vocab_growth_curve",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '{textstats.TOKEN_PATTERN}'))
           AS token
  FROM documents
),
cps AS (SELECT unnest([100, 200, 300, 400, 500]) AS checkpoint),
per_doc AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1),
firsts AS (SELECT token, min(doc_id) AS fd FROM toks GROUP BY 1)
SELECT c.checkpoint,
       CAST((SELECT sum(n) FROM per_doc WHERE doc_id < c.checkpoint)
            AS BIGINT) AS n_tokens,
       (SELECT count(*) FROM firsts WHERE fd < c.checkpoint)
         AS n_distinct_tokens
FROM cps c ORDER BY checkpoint
""",
    tags=("llmops", "text", "stats"),
    notes="Heaps'-law vocabulary growth: distinct-token and total-token "
    "counts at doc-count checkpoints, computed from per-token FIRST "
    "occurrence (one token-keyed hash agg — the corpus is never re-scanned "
    "per checkpoint) and per-doc totals, fanned out against a 5-row "
    "broadcast checkpoint table. Exact integers — no estimator drift.",
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit(textstats.TOKEN_PATTERN), 0
            )
        ).alias("token"),
    )
    cps = spark.createDataFrame(
        [(c,) for c in (100, 200, 300, 400, 500)], "checkpoint bigint"
    )
    per_doc = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    firsts = toks.groupBy("token").agg(F.min("doc_id").alias("fd"))
    tot = (
        per_doc.crossJoin(F.broadcast(cps))
        .filter(F.col("doc_id") < F.col("checkpoint"))
        .groupBy("checkpoint")
        .agg(F.sum("n").alias("n_tokens"))
    )
    dist = (
        firsts.crossJoin(F.broadcast(cps))
        .filter(F.col("fd") < F.col("checkpoint"))
        .groupBy("checkpoint")
        .agg(F.count(F.lit(1)).alias("n_distinct_tokens"))
    )
    # left-join FROM the checkpoint table so a checkpoint preceding every
    # doc_id still emits a row, matching the oracle's scalar subqueries:
    # sum over an empty set is NULL, count over an empty set is 0
    return (
        cps.join(tot, "checkpoint", "left")
        .join(dist, "checkpoint", "left")
        .select(
            "checkpoint",
            "n_tokens",
            F.coalesce("n_distinct_tokens", F.lit(0)).alias(
                "n_distinct_tokens"
            ),
        )
        .orderBy("checkpoint")
    )


@register(
    "oov_rate_docs",
    oracle=f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '{textstats.TOKEN_PATTERN}'))
           AS token
  FROM documents
),
vocab AS (
  SELECT token FROM toks GROUP BY token
  ORDER BY count(*) DESC, token LIMIT 64
)
SELECT doc_id,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN token IN (SELECT token FROM vocab)
                     THEN 0 ELSE 1 END) AS BIGINT)
         AS n_oov,
       round(sum(CASE WHEN token IN (SELECT token FROM vocab)
                      THEN 0 ELSE 1 END)
             / CAST(count(*) AS DOUBLE), 6) AS oov_rate
FROM toks GROUP BY doc_id ORDER BY doc_id
""",
    tags=("llmops", "text", "stats"),
    notes="Per-document out-of-vocabulary rate against the deterministic "
    "top-64 corpus vocabulary: tokenizer-coverage audit before committing "
    "to a vocab. The vocab is model-sized and broadcast; the corpus side "
    "is one narrow explode + one doc-keyed hash agg.",
)
def oov_rate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit(textstats.TOKEN_PATTERN), 0
            )
        ).alias("token"),
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("__n"))
        .orderBy(F.col("__n").desc(), "token")
        .limit(64)
        .select("token", F.lit(1).alias("__in"))
    )
    return (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("__in").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
        .withColumn(
            "oov_rate",
            F.round(
                F.col("n_oov") / F.col("n_tokens").cast("double"), 6
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "multimodal_png_pixels",
    oracle="""
WITH m AS (
  SELECT doc_id,
         list_transform(generate_series(0, 5),
             i -> CAST((doc_id*7 + (i // 3)*16 + (i % 3)*4) % 256 AS DOUBLE)) AS rs,
         list_transform(generate_series(0, 5),
             i -> CAST((doc_id*7 + (i // 3)*16 + (i % 3)*4 + 1) % 256 AS DOUBLE)) AS gs,
         list_transform(generate_series(0, 5),
             i -> CAST((doc_id*7 + (i // 3)*16 + (i % 3)*4 + 2) % 256 AS DOUBLE)) AS bs
  FROM documents
), s AS (
  SELECT doc_id,
         list_sum(rs)/6.0 AS mr, list_sum(gs)/6.0 AS mg, list_sum(bs)/6.0 AS mb
  FROM m
)
SELECT doc_id AS media_id, CAST(3 AS INT) AS width, CAST(2 AS INT) AS height,
       CAST(3 AS INT) AS channels, CAST(6 AS INT) AS n_pixels,
       round(mr, 6) AS mean_r, round(mg, 6) AS mean_g, round(mb, 6) AS mean_b,
       round(0.299*mr + 0.587*mg + 0.114*mb, 6) AS mean_luma
FROM s ORDER BY media_id
""",
    tags=("llmops", "multimodal"),
    notes="REAL PNG pixel decode (operators/multimodal.decode_png_pixels): "
    "3×2 RGB payloads DEFLATE-compressed with the minimal in-repo encoder, "
    "per-row filter type (doc_id+y)%5 so ALL FIVE spec filters "
    "(None/Sub/Up/Average/Paeth) are inflated and unfiltered across the "
    "corpus; the oracle replays the per-pixel channel arithmetic, which "
    "only matches if every unfilter path is exact. PNG's DEFLATE is stdlib "
    "zlib — no external codec. Closes the PNG half of the compressed-decode "
    "stub; JPEG/GIF remain library-gated.",
)
def multimodal_png_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from ..operators import multimodal

    docs = fan_out(load_table(spark, "documents", sf_dir).select("doc_id"))

    def gen(it):
        for pdf in it:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                px = np.zeros((2, 3, 3), np.uint8)
                for y in range(2):
                    for x in range(3):
                        base = d * 7 + y * 16 + x * 4
                        px[y, x] = [
                            base % 256, (base + 1) % 256, (base + 2) % 256
                        ]
                payloads.append(
                    multimodal.encode_png(px, [(d + y) % 5 for y in range(2)])
                )
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = docs.mapInPandas(gen, schema="media_id bigint, payload binary")
    out = multimodal.decode_png_pixels(media)
    return out.select(
        "media_id", "width", "height", "channels", "n_pixels",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round("mean_luma", 6).alias("mean_luma"),
    ).orderBy("media_id")


@register(
    "multimodal_decode_router",
    oracle="""
SELECT doc_id AS media_id,
       CASE doc_id % 3 WHEN 0 THEN 'ok' ELSE 'unsupported_codec' END
         AS decode_status,
       CASE doc_id % 3 WHEN 0 THEN 70 WHEN 1 THEN 68 ELSE 32 END
         AS n_bytes,
       CASE doc_id % 3 WHEN 0 THEN 2 END AS width,
       CASE doc_id % 3 WHEN 0 THEN 2 END AS height
FROM documents ORDER BY media_id
""",
    tags=("llmops", "multimodal"),
    notes="decode_media status routing end-to-end "
    "(operators/multimodal.decode_media): a mixed corpus — decodable BMP "
    "(doc_id%3=0), MPEG1 Layer III frame header (%3=1, sample decode "
    "unsupported in-container), unrecognized bytes (%3=2) — flows through "
    "the Arrow-batched mapInPandas decoder and every payload yields a row "
    "with decode_status 'ok' or 'unsupported_codec' + NULL decode fields "
    "(no executor raise, the AU unsupported-encoding discipline). The "
    "oracle replays the construction-determined statuses and payload "
    "sizes. The array feature column is dropped from the registered "
    "projection (scalar-schema guard).",
)
def multimodal_decode_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    import struct

    import pandas as pd

    from ..operators import multimodal

    docs = fan_out(load_table(spark, "documents", sf_dir).select("doc_id"))

    # 2×2 24bpp BI_RGB red BMP: 54-byte headers + 2 rows × 8 bytes = 70.
    def bmp_red() -> bytes:
        row = (b"\x00\x00\xff" * 2).ljust(8, b"\x00")  # BGR, padded to 4B
        px = row * 2
        info = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(px), 0, 0, 0, 0)
        hdr = b"BM" + struct.pack("<IHHI", 54 + len(px), 0, 0, 54)
        return hdr + info + px

    def gen(it):
        bmp = bmp_red()
        mp3ish = b"\xff\xfb\x90\x00" + b"\x00" * 64  # 68 bytes
        junk = b"\x01" * 32
        for pdf in it:
            payloads = [
                [bmp, mp3ish, junk][int(d) % 3] for d in pdf["doc_id"]
            ]
            types = [
                ["image", "audio", "image"][int(d) % 3] for d in pdf["doc_id"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "media_type": types,
                    "payload": payloads,
                }
            )

    media = docs.mapInPandas(
        gen, schema="media_id bigint, media_type string, payload binary"
    )
    return (
        multimodal.decode_media(media)
        .select("media_id", "decode_status", "n_bytes", "width", "height")
        .orderBy("media_id")
    )


@register(
    "multimodal_gif_pixels",
    oracle="""
WITH pal AS (
  SELECT doc_id,
         list_transform(generate_series(0, 3),
             j -> CAST((doc_id*11 + j*31) % 256 AS DOUBLE)) AS rs,
         list_transform(generate_series(0, 3),
             j -> CAST((doc_id*11 + j*31 + 97) % 256 AS DOUBLE)) AS gs,
         list_transform(generate_series(0, 3),
             j -> CAST((doc_id*11 + j*31 + 201) % 256 AS DOUBLE)) AS bs
  FROM documents
), s AS (
  SELECT doc_id,
         list_sum(rs)/4.0 AS mr, list_sum(gs)/4.0 AS mg, list_sum(bs)/4.0 AS mb
  FROM pal
)
SELECT doc_id AS media_id, CAST(4 AS INT) AS width, CAST(4 AS INT) AS height,
       CAST(4 AS INT) AS n_colors, CAST(16 AS INT) AS n_pixels,
       round(mr, 6) AS mean_r, round(mg, 6) AS mean_g, round(mb, 6) AS mean_b,
       round(0.299*mr + 0.587*mg + 0.114*mb, 6) AS mean_luma
FROM s ORDER BY media_id
""",
    tags=("llmops", "multimodal"),
    notes="REAL GIF pixel decode (operators/multimodal.decode_gif_pixels): "
    "4×4 frames with a 4-color doc_id-arithmetic palette, LZW-compressed "
    "by the in-repo encoder; interlacing (doc_id%2), version 87a/89a "
    "(doc_id%3) and a graphic-control extension (doc_id%6) vary across "
    "the corpus yet must decode to identical pixel stats — the oracle "
    "replays the palette arithmetic (each color appears exactly 4× in "
    "the (doc_id+3y+x)%4 index pattern, so means are uniform over the "
    "palette) and only matches if LZW decode, de-interlacing, and "
    "extension skipping are all exact. GIF's LZW is pure-spec bit "
    "arithmetic — no external codec. Closes the GIF half of the "
    "compressed-decode stub; JPEG alone remains library-gated.",
)
def multimodal_gif_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from ..operators import multimodal

    docs = fan_out(load_table(spark, "documents", sf_dir).select("doc_id"))

    def gen(it):
        for pdf in it:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                pal = np.zeros((4, 3), np.uint8)
                for j in range(4):
                    base = d * 11 + j * 31
                    pal[j] = [base % 256, (base + 97) % 256, (base + 201) % 256]
                idx = np.fromfunction(
                    lambda y, x: (d + 3 * y + x) % 4, (4, 4), dtype=int
                )
                payloads.append(
                    multimodal.encode_gif(
                        pal[idx],
                        interlaced=bool(d % 2),
                        version=b"87a" if d % 3 == 0 else b"89a",
                        with_gce=(d % 6 == 1),
                    )
                )
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = docs.mapInPandas(gen, schema="media_id bigint, payload binary")
    out = multimodal.decode_gif_pixels(media)
    return out.select(
        "media_id", "width", "height", "n_colors", "n_pixels",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round("mean_luma", 6).alias("mean_luma"),
    ).orderBy("media_id")


@register(
    "multimodal_jpeg_pixels",
    oracle="""
WITH s AS (
  SELECT doc_id,
         list_sum(list_transform(generate_series(0, 5),
             i -> CAST(2 * ((doc_id*7 + i) % 128) AS DOUBLE))) / 6.0 AS m
  FROM documents
)
SELECT doc_id AS media_id, CAST(24 AS INT) AS width, CAST(16 AS INT) AS height,
       CAST(1 AS INT) AS channels, CAST(384 AS INT) AS n_pixels,
       round(m, 6) AS mean_luma
FROM s ORDER BY media_id
""",
    tags=("llmops", "multimodal"),
    notes="REAL baseline-JPEG pixel decode (operators/multimodal."
    "decode_jpeg_pixels): 16×24 grayscale images of six flat 8×8 blocks "
    "whose EVEN values are doc_id arithmetic — a flat block with even "
    "value v quantizes to DC=(v-128)/2 exactly and inverse-DCTs back to "
    "v exactly, so the decoded image equals the input and the oracle "
    "replays the block-mean arithmetic in closed form. The decode runs "
    "the full pure-spec ITU T.81 path (canonical Huffman entropy decode "
    "with DC prediction across 6 blocks per image, dequantize, exact "
    "float IDCT); any defect in marker parsing, Huffman tables, bit "
    "unstuffing, DC diff coding, or the IDCT breaks the identity. AC "
    "coefficients, RGB, and 4:2:0 subsampling are covered by the "
    "reference-pipeline-equality pytest (entropy layer is lossless, so "
    "decode must match the numpy FDCT→quant→dequant→IDCT pipeline "
    "bit-for-bit). Closes the last image-codec stub: BMP/PNG/GIF/JPEG "
    "all decode for real; only FLAC/MP3 sample synthesis remains "
    "library-gated.",
)
def multimodal_jpeg_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from ..operators import multimodal

    docs = fan_out(load_table(spark, "documents", sf_dir).select("doc_id"))

    def gen(it):
        for pdf in it:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                px = np.zeros((16, 24), np.uint8)
                for r in range(2):
                    for c in range(3):
                        px[r * 8 : (r + 1) * 8, c * 8 : (c + 1) * 8] = (
                            2 * ((d * 7 + r * 3 + c) % 128)
                        )
                payloads.append(multimodal.encode_jpeg(px))
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = docs.mapInPandas(gen, schema="media_id bigint, payload binary")
    out = multimodal.decode_jpeg_pixels(media)
    return out.select(
        "media_id", "width", "height", "channels", "n_pixels",
        F.round("mean_luma", 6).alias("mean_luma"),
    ).orderBy("media_id")


@register(
    "multimodal_flac_samples",
    oracle="""
WITH s AS (
  SELECT doc_id, list_transform(generate_series(0, 7),
      i -> CAST((doc_id*13 + i*5) % 2001 - 1000 AS DOUBLE)) AS smp
  FROM documents
)
SELECT doc_id AS media_id,
       CAST(8000 + (doc_id % 8)*1000 AS INT) AS sample_rate,
       CAST(1 AS INT) AS channels, CAST(16 AS INT) AS bits_per_sample,
       CAST(8 AS BIGINT) AS n_frames,
       round(list_sum(list_transform(smp, x -> abs(x)))/8.0, 6) AS mean_abs,
       round(sqrt(list_sum(list_transform(smp, x -> x*x))/8.0), 6) AS rms,
       CAST(list_max(list_transform(smp, x -> abs(x))) AS INT) AS peak
FROM s ORDER BY media_id
""",
    tags=("llmops", "multimodal"),
    notes="REAL FLAC sample decode (operators/flac + multimodal."
    "decode_flac_samples): the same 8 doc_id-arithmetic samples as "
    "multimodal_wav_pcm, but compressed with the in-repo FLAC encoder "
    "(fixed-order-2 prediction + real Rice-coded residuals) and decoded "
    "back through the full pure-spec bit path — STREAMINFO parse, frame "
    "sync, subframe decode, Rice/zigzag, predictor reconstruction. FLAC "
    "is LOSSLESS, so the oracle replays the amplitude statistics exactly; "
    "any defect in the Rice arithmetic or predictor breaks the match. "
    "Audio twin of multimodal_jpeg_pixels; MP3 alone remains "
    "library-gated.",
)
def multimodal_flac_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from ..operators import multimodal
    from ..operators.flac import encode_flac

    docs = fan_out(load_table(spark, "documents", sf_dir).select("doc_id"))

    def gen(it):
        for pdf in it:
            payloads = []
            for d in pdf["doc_id"]:
                d = int(d)
                smp = np.array(
                    [(d * 13 + i * 5) % 2001 - 1000 for i in range(8)],
                    np.int64,
                )
                payloads.append(
                    encode_flac(
                        smp, sample_rate=8000 + (d % 8) * 1000, bps=16,
                        fixed_order=2, blocksize=8,
                    )
                )
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"], "payload": payloads}
            )

    media = docs.mapInPandas(gen, schema="media_id bigint, payload binary")
    out = multimodal.decode_flac_samples(media)
    return out.select(
        "media_id", "sample_rate", "channels", "bits_per_sample", "n_frames",
        F.round("mean_abs", 6).alias("mean_abs"),
        F.round("rms", 6).alias("rms"),
        "peak",
    ).orderBy("media_id")


@register(
    "source_drift_chi2",
    oracle=f"""
WITH toks AS (
  SELECT source,
         unnest(regexp_extract_all(lower(text), '{textstats.TOKEN_PATTERN}'))
           AS token
  FROM documents
),
obs AS (SELECT source, token, count(*) AS o FROM toks GROUP BY 1, 2),
tok_tot AS (SELECT token, count(*) AS nt FROM toks GROUP BY 1),
src_tot AS (SELECT source, count(*) AS ns FROM toks GROUP BY 1),
tot AS (SELECT count(*) AS n FROM toks),
terms AS (
  SELECT o.source,
         (o.o - tok_tot.nt * src_tot.ns / CAST(tot.n AS DOUBLE))
           * (o.o - tok_tot.nt * src_tot.ns / CAST(tot.n AS DOUBLE))
           / (tok_tot.nt * src_tot.ns / CAST(tot.n AS DOUBLE)) AS term,
         tok_tot.nt * src_tot.ns / CAST(tot.n AS DOUBLE) AS e
  FROM obs o
  JOIN tok_tot USING (token)
  JOIN src_tot USING (source), tot
)
SELECT t.source, s.ns AS n_tokens,
       round(CAST(sum(CAST(t.term AS DECIMAL(38,10))) AS DOUBLE)
             + (s.ns - CAST(sum(CAST(t.e AS DECIMAL(38,10))) AS DOUBLE)),
             4) AS chi2
FROM terms t JOIN src_tot s USING (source)
GROUP BY t.source, s.ns ORDER BY t.source
""",
    tags=("llmops", "text", "stats"),
    notes="Per-source token-distribution drift: chi-square statistic of "
    "each source's token counts against the corpus-wide expectation. "
    "Missing-token terms are folded in closed form (sum of expected = "
    "source total), so only OBSERVED (source, token) rows are "
    "materialized — never the source × vocabulary cross product. "
    "Token-keyed aggregations colocate; source totals broadcast. "
    "Decimal-sum discipline keeps the double sums order-independent. "
    "The corpus-mix drift monitor between snapshots/sources.",
)
def source_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "source",
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit(textstats.TOKEN_PATTERN), 0
            )
        ).alias("token"),
    )
    obs = toks.groupBy("source", "token").agg(
        F.count(F.lit(1)).alias("o")
    )
    tok_tot = toks.groupBy("token").agg(F.count(F.lit(1)).alias("nt"))
    src_tot = toks.groupBy("source").agg(F.count(F.lit(1)).alias("ns"))
    tot = toks.agg(F.count(F.lit(1)).alias("n"))
    e = F.col("nt") * F.col("ns") / F.col("n").cast("double")
    terms = (
        obs.join(tok_tot, "token")
        .join(F.broadcast(src_tot), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source", "ns",
            ((F.col("o") - e) * (F.col("o") - e) / e).alias("term"),
            e.alias("e"),
        )
    )
    d = lambda c: F.sum(F.col(c).cast("decimal(38,10)")).cast("double")  # noqa: E731
    return (
        terms.groupBy("source", F.col("ns").alias("n_tokens"))
        .agg(
            F.round(
                d("term") + (F.col("ns").cast("double") - d("e")), 4
            ).alias("chi2")
        )
        .orderBy("source")
    )


@register(
    "dataset_card",
    oracle=f"""
WITH base AS (
  SELECT doc_id, lang, source,
         len(regexp_extract_all(lower(text), '{textstats.TOKEN_PATTERN}'))
           AS n_toks,
         md5(array_to_string(list_sort(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')), ' '))
           AS canon
  FROM documents
),
langp AS (
  SELECT lang, count(*) / CAST((SELECT count(*) FROM base) AS DOUBLE) AS p
  FROM base GROUP BY lang
),
srcp AS (
  SELECT count(*) / CAST((SELECT count(*) FROM base) AS DOUBLE) AS share
  FROM base GROUP BY source
)
SELECT (SELECT count(*) FROM base) AS n_docs,
       (SELECT count(DISTINCT source) FROM base) AS n_sources,
       (SELECT count(DISTINCT lang) FROM base) AS n_langs,
       (SELECT CAST(sum(n_toks) AS BIGINT) FROM base) AS total_tokens,
       (SELECT round(CAST(sum(CAST(n_toks AS DECIMAL(38,10))) AS DOUBLE)
                     / count(*), 4) FROM base) AS mean_doc_tokens,
       (SELECT round(1.0 - count(DISTINCT canon) / CAST(count(*) AS DOUBLE), 6)
          FROM base) AS exact_dup_rate,
       (SELECT round(CAST(sum(CAST(-p * log2(p) AS DECIMAL(38,12)))
                          AS DOUBLE), 6) FROM langp) AS lang_entropy_bits,
       (SELECT round(max(share), 6) FROM srcp) AS top_source_share
""",
    tags=("llmops", "stats", "report"),
    notes="One-row dataset card — the datasheet a corpus release ships "
    "with: sizes, token totals, canonical exact-dup rate, language-mix "
    "Shannon entropy (bits, decimal-sum order-independent), and "
    "largest-source concentration. Composes the catalog's tokenization / "
    "canonical-fingerprint building blocks in two scans and model-sized "
    "aggregates; every statistic is exact (no sketches) so the DuckDB "
    "twin matches hash-for-hash.",
)
def dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    base = docs.select(
        "doc_id", "lang", "source",
        F.size(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit(textstats.TOKEN_PATTERN), 0
            )
        ).alias("n_toks"),
        F.md5(
            F.concat_ws(" ", F.array_sort(F.array_remove(F.split(F.col("text"), r"\s+"), "")))
        ).alias("canon"),
    )
    overall = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_toks").cast("bigint").alias("total_tokens"),
        F.round(
            F.sum(F.col("n_toks").cast("decimal(38,10)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("mean_doc_tokens"),
        F.round(
            1.0 - F.countDistinct("canon") / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("exact_dup_rate"),
    )
    n_docs = base.agg(F.count(F.lit(1)).alias("__n"))
    langp = (
        base.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(F.broadcast(n_docs))
        .select((F.col("c") / F.col("__n").cast("double")).alias("p"))
    )
    ent = langp.agg(
        F.round(
            F.sum(
                (-F.col("p") * F.log2("p")).cast("decimal(38,12)")
            ).cast("double"),
            6,
        ).alias("lang_entropy_bits")
    )
    srcp = (
        base.groupBy("source")
        .agg(F.count(F.lit(1)).alias("c"))
        .crossJoin(F.broadcast(n_docs))
        .agg(
            F.round(
                F.max(F.col("c") / F.col("__n").cast("double")), 6
            ).alias("top_source_share")
        )
    )
    return overall.crossJoin(F.broadcast(ent)).crossJoin(F.broadcast(srcp))


@register(
    "doc_novelty_3gram",
    oracle=f"""
WITH g AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           unnest(list_transform(generate_series(1, len(w) - 2),
               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
    FROM (SELECT doc_id, {_DUCK_WORDS} AS w FROM documents)
  )
),
firsts AS (SELECT gram, min(doc_id) AS fd FROM g GROUP BY gram),
per_doc AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
novel AS (
  SELECT g.doc_id, count(*) AS n_novel
  FROM g JOIN firsts USING (gram) WHERE firsts.fd = g.doc_id
  GROUP BY g.doc_id
)
SELECT p.doc_id, p.n_grams,
       coalesce(n.n_novel, 0) AS n_novel,
       round(coalesce(n.n_novel, 0) / CAST(p.n_grams AS DOUBLE), 6)
         AS novelty
FROM per_doc p LEFT JOIN novel n USING (doc_id)
ORDER BY p.doc_id
""",
    tags=("llmops", "text", "stats"),
    notes="Per-document 3-gram novelty: the fraction of a doc's DISTINCT "
    "word 3-grams whose corpus-wide first occurrence (min doc_id) is this "
    "doc — boilerplate-heavy docs score near 0, fresh content near 1. "
    "Gram-keyed first-occurrence agg and the novelty join share the same "
    "key, so the join is colocated after one shuffle; per-doc counts are "
    "a second narrow agg. Exact integers (at 100 TB the gram key would be "
    "xxhash64-hashed to 8 bytes — here raw strings keep the oracle "
    "byte-identical).",
)
def doc_novelty_3gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import word_shingles

    docs = load_table(spark, "documents", sf_dir)
    g = docs.select(
        "doc_id",
        F.explode_outer(
            word_shingles(F.col("text"), 3)
        ).alias("gram"),
    ).where(F.col("gram").isNotNull()).distinct()
    firsts = g.groupBy("gram").agg(F.min("doc_id").alias("fd"))
    per_doc = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    novel = (
        g.join(firsts, "gram")
        .where(F.col("fd") == F.col("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    return (
        per_doc.join(novel, "doc_id", "left")
        .select(
            "doc_id", "n_grams",
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.round(
                F.coalesce("n_novel", F.lit(0))
                / F.col("n_grams").cast("double"),
                6,
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


@register(
    "text_lang_margin",
    oracle=_duck_lang_ngram_margin_sql(),
    tags=("llmops", "text"),
    notes="Language-ID confidence: top-two score gap + runner-up language "
    "(lang_id(with_margin=True)) — the ambiguity signal for routing "
    "low-margin docs to quarantine/review. Routed through the char-n-gram "
    "method since r13 (VERDICT r12 task 5 — the A/B winner, BASELINE.md); "
    "same codegen array ranking as text_lang_id, no extra scan. The "
    "stopword margins remain reachable via lang_id(method='stopword', "
    "with_margin=True); their ranking tail is the same code this entry "
    "exercises and the stopword scoring stays oracle-checked via "
    "text_lang_id_stopword.",
)
def text_lang_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return (
        textstats.lang_id(docs, with_margin=True, key_col="doc_id")
        .select("doc_id", "lang_pred", "lang_pred2", "lang_margin")
        .orderBy("doc_id")
    )


@register(
    "embedding_dim_stats",
    oracle="""
WITH e AS (
  SELECT unnest(generate_series(1, len(embedding))) AS pos1,
         embedding
  FROM embeddings
), v AS (
  SELECT pos1 - 1 AS pos, CAST(embedding[pos1] AS DOUBLE) AS x FROM e
)
SELECT pos,
       count(*) AS n,
       round(CAST(sum(CAST(x AS DECIMAL(38,10))) AS DOUBLE) / count(*), 6)
         AS mean,
       round(sqrt(greatest(
         (CAST(sum(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE)
          - CAST(sum(CAST(x AS DECIMAL(38,10))) AS DOUBLE)
            * CAST(sum(CAST(x AS DECIMAL(38,10))) AS DOUBLE) / count(*))
         / (count(*) - 1), 0.0)), 6) AS std,
       round(min(x), 6) AS lo,
       round(max(x), 6) AS hi
FROM v GROUP BY pos ORDER BY pos
""",
    tags=("llmops", "embedding", "stats"),
    notes="Per-dimension embedding distribution profile (mean/std/min/max "
    "per position): the drift/normalization audit before indexing or "
    "quantizing a vector corpus. posexplode → one (pos)-keyed hash agg; "
    "std is computed FROM exact decimal sum and sum-of-squares (the "
    "two-moment identity), so it is aggregation-order-independent — a raw "
    "stddev over doubles would hash-differ across engines.",
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    v = emb.select(
        F.posexplode("embedding").alias("pos", "xf")
    ).select("pos", F.col("xf").cast("double").alias("x"))
    dsum = F.sum(F.col("x").cast("decimal(38,10)")).cast("double")
    dsumsq = F.sum(
        (F.col("x") * F.col("x")).cast("decimal(38,12)")
    ).cast("double")
    n = F.count(F.lit(1))
    return (
        v.groupBy("pos")
        .agg(
            n.alias("n"),
            F.round(dsum / n, 6).alias("mean"),
            F.round(
                F.sqrt(
                    F.greatest(
                        (dsumsq - dsum * dsum / n) / (n - F.lit(1)),
                        F.lit(0.0),
                    )
                ),
                6,
            ).alias("std"),
            F.round(F.min("x"), 6).alias("lo"),
            F.round(F.max("x"), 6).alias("hi"),
        )
        .orderBy("pos")
    )


@register(
    "embedding_normalize",
    oracle="""
WITH n AS (
  SELECT vec_id, label,
         sqrt(list_sum(list_transform(embedding,
              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm,
         embedding
  FROM embeddings
  WHERE vec_id % 10 = 0
)
SELECT vec_id, label, round(nrm, 6) AS norm,
       unnest(generate_series(1, len(embedding))) - 1 AS pos,
       unnest(list_transform(embedding,
           x -> round(CAST(x AS DOUBLE) / nullif(nrm, 0.0), 6)))
         AS component
FROM n
ORDER BY vec_id, pos
""",
    tags=("llmops", "embedding"),
    notes="L2 normalization to unit vectors — the prerequisite for "
    "cosine-as-dot-product ANN and int8 quantization. Pure codegen array "
    "lambdas (no UDF, no shuffle); the squared-norm fold is sequential "
    "left-to-right on both engines so the doubles agree bit-for-bit "
    "before the final rounding. Zero vectors map to NULL components "
    "rather than NaN. Output is posexploded to scalar "
    "(vec_id, pos, component) rows — driver value-hashing needs scalar "
    "column types; the operator itself stays array-native upstream.",
)
def embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir).filter(
        F.col("vec_id") % 10 == 0
    )
    xd = lambda x: x.cast("double")  # noqa: E731
    nrm = F.sqrt(
        F.aggregate(
            F.col("embedding"),
            F.lit(0.0),
            lambda acc, x: acc + xd(x) * xd(x),
        )
    )
    with_n = emb.withColumn("nrm", nrm)
    return with_n.select(
        "vec_id", "label",
        F.round("nrm", 6).alias("norm"),
        F.posexplode(
            F.transform(
                "embedding",
                lambda x: F.round(
                    xd(x) / F.nullif(F.col("nrm"), F.lit(0.0)), 6
                ),
            )
        ).alias("pos", "component"),
    ).orderBy("vec_id", "pos")


@register(
    "token_cooccurrence_pmi",
    oracle=f"""
WITH toks AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id,
           unnest(regexp_extract_all(lower(text), '{textstats.TOKEN_PATTERN}'))
             AS token
    FROM documents
  )
),
vocab AS (
  SELECT token FROM toks GROUP BY token
  ORDER BY count(*) DESC, token LIMIT 64
),
vt AS (SELECT doc_id, token FROM toks WHERE token IN (SELECT token FROM vocab)),
df AS (SELECT token, count(*) AS c FROM vt GROUP BY token),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM toks),
pairs AS (
  SELECT a.token AS t1, b.token AS t2, count(*) AS c_ab
  FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.token < b.token
  GROUP BY 1, 2
)
SELECT p.t1, p.t2, p.c_ab,
       round(ln((p.c_ab * CAST(n.n_docs AS DOUBLE)) / (da.c * db.c)), 6)
         AS pmi
FROM pairs p
JOIN df da ON da.token = p.t1
JOIN df db ON db.token = p.t2, n
ORDER BY p.c_ab DESC, p.t1, p.t2 LIMIT 50
""",
    tags=("llmops", "text", "stats"),
    notes="Collocation mining: pointwise mutual information of token "
    "pairs co-occurring in a document, restricted to the top-64 vocab "
    "(broadcast filter) so per-doc pair fan-out is bounded at C(64,2) — "
    "the cap that keeps the pair explosion constant-bounded at any "
    "corpus size. PMI is one log of a ratio of exact integer counts, so "
    "both engines agree to rounding.",
)
def token_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit(textstats.TOKEN_PATTERN), 0
            )
        ).alias("token"),
    ).distinct()
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("__n"))
        .orderBy(F.col("__n").desc(), "token")
        .limit(64)
        .select("token")
    )
    vt = toks.join(F.broadcast(vocab), "token", "left_semi")
    dfreq = vt.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    n = toks.agg(F.countDistinct("doc_id").alias("n_docs"))
    a, b = vt.alias("a"), vt.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.token") < F.col("b.token")),
        )
        .groupBy(
            F.col("a.token").alias("t1"), F.col("b.token").alias("t2")
        )
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    return (
        pairs.join(F.broadcast(dfreq.withColumnRenamed("token", "t1")
                   .withColumnRenamed("c", "ca")), "t1")
        .join(F.broadcast(dfreq.withColumnRenamed("token", "t2")
              .withColumnRenamed("c", "cb")), "t2")
        .crossJoin(F.broadcast(n))
        .select(
            "t1", "t2", "c_ab",
            F.round(
                F.log(
                    (F.col("c_ab") * F.col("n_docs").cast("double"))
                    / (F.col("ca") * F.col("cb"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("c_ab").desc(), "t1", "t2")
        .limit(50)
    )


@register(
    "text_encoding_stats",
    oracle="""
SELECT doc_id,
       length(text) AS n_chars,
       octet_length(CAST(text AS BLOB)) AS n_bytes,
       octet_length(CAST(text AS BLOB)) - length(text) AS extra_bytes,
       round((octet_length(CAST(text AS BLOB)) - length(text))
             / CAST(nullif(length(text), 0) AS DOUBLE), 6) AS multibyte_load
FROM documents ORDER BY doc_id
""",
    tags=("llmops", "text"),
    notes="UTF-8 weight audit: characters vs encoded bytes per doc "
    "(octet_length − length = continuation bytes). CJK/emoji-heavy docs "
    "cost 2-3 bytes and often >1 token per character — this is the "
    "storage-and-token budgeting signal per doc/source. Narrow codegen, "
    "no shuffle.",
)
def text_encoding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    nb = F.octet_length("text")
    nc = F.length("text")
    return docs.select(
        "doc_id",
        nc.alias("n_chars"),
        nb.alias("n_bytes"),
        (nb - nc).alias("extra_bytes"),
        # nullif: an empty doc is NULL load on BOTH engines (DuckDB's
        # default ieee_floating_point_ops would otherwise yield NaN from
        # 0/0.0 while Spark yields NULL — r9 review; same discipline as
        # text_token_stats/text_quality)
        F.round((nb - nc) / F.nullif(nc.cast("double"), F.lit(0.0)), 6).alias(
            "multibyte_load"
        ),
    ).orderBy("doc_id")


@register(
    "avro_roundtrip_orders",
    oracle="""
SELECT o_orderstatus,
       count(*) AS n_orders,
       round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS DOUBLE), 4)
         AS sum_price,
       min(CAST(o_orderdate AS TIMESTAMP)) AS first_order,
       max(CAST(o_orderdate AS TIMESTAMP)) AS last_order
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
    tags=("sources", "avro"),
    notes="Avro interop WITHOUT the spark-avro jar (sources/avro_fallback: "
    "pure-spec Object Container File codec — zigzag-varint binary "
    "encoding, [null,T] unions, timestamp-micros logical type, raw-"
    "DEFLATE blocks via stdlib zlib): orders is written to Avro "
    "executor-side (one container per partition, one block per Arrow "
    "batch), read back via binaryFile + Arrow-batched decode, and "
    "aggregated; the oracle runs the same aggregate on the ORIGINAL "
    "parquet, so the hash matches only if every long/string/double/"
    "timestamp survived the Avro byte round-trip exactly. The jar path "
    "(sources.reader('avro')) remains the full-fidelity route when "
    "available.",
)
def avro_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..sources import scratch_dir
    from ..sources.avro_fallback import read_avro, write_avro

    orders = load_table(spark, "orders", sf_dir).select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    # pid-unique scratch: a fixed path races when two PROCESSES run this
    # entry concurrently (pytest + a check_oracle sweep — one rmtree/
    # rewrites while the other reads → transient PATH_NOT_FOUND, seen r8);
    # scratch_dir atexit-cleans and reaps dead-pid leftovers
    path = scratch_dir("sparkgraft-avro-roundtrip-orders")
    shutil.rmtree(path, ignore_errors=True)  # rerun-safe overwrite
    write_avro(orders, path)
    back = read_avro(spark, path)
    return (
        back.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(38,10)")).cast(
                    "double"
                ),
                4,
            ).alias("sum_price"),
            F.min("o_orderdate").alias("first_order"),
            F.max("o_orderdate").alias("last_order"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "zipf_slope_tokens",
    oracle=f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(text), '{textstats.TOKEN_PATTERN}'))
    AS token
  FROM documents
),
counts AS (SELECT token, count(*) AS c FROM toks GROUP BY token),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, token) AS r
  FROM counts
)
SELECT CAST(count(*) AS BIGINT) AS n_ranks,
       round(regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(r AS DOUBLE))), 4)
         AS zipf_slope,
       round(regr_r2(ln(CAST(c AS DOUBLE)), ln(CAST(r AS DOUBLE))), 4)
         AS r2
FROM ranked WHERE r <= 256
""",
    tags=("llmops", "text", "stats"),
    notes="Zipf's-law fit: OLS slope of ln(frequency) vs ln(rank) over "
    "the top-256 tokens (ties broken by token so both engines rank "
    "identically) — a natural-language health check for a corpus (clean "
    "text sits near -1; boilerplate/spam flattens or steepens the "
    "curve). One token hash-agg + one 256-row window; regr_slope/regr_r2 "
    "are the same two-moment aggregates on both engines, rounded at 4.",
)
def zipf_slope_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit(textstats.TOKEN_PATTERN), 0
            )
        ).alias("token")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql import Window

    # two-phase top-k: the global sort-limit is TakeOrderedAndProject
    # (distributed partial top-k, no single-partition full-vocab sort);
    # the rank window then only ever sees 256 rows
    top = counts.orderBy(F.col("c").desc(), "token").limit(256)
    w = Window.orderBy(F.col("c").desc(), "token")
    ranked = top.withColumn("r", F.row_number().over(w))
    lc = F.log(F.col("c").cast("double"))
    lr = F.log(F.col("r").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).alias("n_ranks"),
        F.round(F.regr_slope(lc, lr), 4).alias("zipf_slope"),
        F.round(F.regr_r2(lc, lr), 4).alias("r2"),
    )


@register(
    "tokenizer_fertility_by_lang",
    oracle=f"""
WITH per_doc AS (
  SELECT lang,
         octet_length(encode(text)) AS n_bytes,
         len(regexp_extract_all(lower(text), '{textstats.TOKEN_PATTERN}'))
           AS n_tokens,
         len(regexp_extract_all(text, '\\S+')) AS n_words
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(sum(n_bytes) / CAST(sum(n_tokens) AS DOUBLE), 4)
         AS bytes_per_token,
       round(sum(n_tokens) / CAST(sum(n_words) AS DOUBLE), 4)
         AS tokens_per_word
FROM per_doc GROUP BY lang ORDER BY lang
""",
    tags=("llmops", "text", "stats"),
    notes="Tokenizer fertility audit per language: UTF-8 bytes per token "
    "and tokens per whitespace word — the budgeting numbers that decide "
    "how many documents fit a token budget per language and which "
    "languages a byte-level tokenizer penalizes. Integer sums are exact "
    "(CAST BIGINT per the HUGEINT oracle rule); one narrow projection + "
    "one lang-keyed hash agg.",
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    per_doc = docs.select(
        "lang",
        F.octet_length(F.encode(F.col("text"), "utf-8")).alias("n_bytes"),
        F.size(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit(textstats.TOKEN_PATTERN), 0
            )
        ).alias("n_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(r"\S+"), 0)).alias(
            "n_words"
        ),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(
                F.sum("n_bytes") / F.sum("n_tokens").cast("double"), 4
            ).alias("bytes_per_token"),
            F.round(
                F.sum("n_tokens") / F.sum("n_words").cast("double"), 4
            ).alias("tokens_per_word"),
        )
        .orderBy("lang")
    )


#: Shared BM25 oracle kernel (ONE definitional copy — r9 review found
#: three verbatim ~35-line copies across bm25_scores_docs, _RRF_ORACLE
#: and rbo_lexical_vs_semantic; a constant/rounding fix missed in one
#: would silently diverge that entry from textstats.bm25_scores). CTE
#: chain ``d -> t -> s -> bm -> bmr``: tokenize, per-term tf for the
#: fixed list (spark, window, merge), corpus stats, raw double BM25
#: (fixed-order + chain so float summation matches Spark), and the
#: rounded positive-score projection.
_DUCK_BM25_CTES = f"""d AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{textstats.TOKEN_PATTERN}')
    AS toks
  FROM documents
), t AS (
  SELECT doc_id, CAST(len(toks) AS INT) AS dl,
         CAST(len(list_filter(toks, x -> x = 'spark')) AS INT) AS tf0,
         CAST(len(list_filter(toks, x -> x = 'window')) AS INT) AS tf1,
         CAST(len(list_filter(toks, x -> x = 'merge')) AS INT) AS tf2
  FROM d
), s AS (
  SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS total_dl,
         CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
         CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
         CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
  FROM t
), bm AS (
  SELECT t.doc_id,
         ln(1.0 + (s.n - s.df0 + 0.5) / (s.df0 + 0.5))
             * t.tf0 * 2.2
             / (t.tf0 + 1.2 * (1.0 - 0.75
                + 0.75 * t.dl / (s.total_dl / CAST(s.n AS DOUBLE))))
         + ln(1.0 + (s.n - s.df1 + 0.5) / (s.df1 + 0.5))
             * t.tf1 * 2.2
             / (t.tf1 + 1.2 * (1.0 - 0.75
                + 0.75 * t.dl / (s.total_dl / CAST(s.n AS DOUBLE))))
         + ln(1.0 + (s.n - s.df2 + 0.5) / (s.df2 + 0.5))
             * t.tf2 * 2.2
             / (t.tf2 + 1.2 * (1.0 - 0.75
                + 0.75 * t.dl / (s.total_dl / CAST(s.n AS DOUBLE))))
           AS bm25
  FROM t, s
), bmr AS (
  SELECT doc_id, round(bm25, 4) AS bm25 FROM bm WHERE round(bm25, 4) > 0
)"""


@register(
    "bm25_scores_docs",
    oracle=f"""
WITH {_DUCK_BM25_CTES}
SELECT t.doc_id AS doc_id, t.dl,
       t.tf0 AS tf_spark, t.tf1 AS tf_window, t.tf2 AS tf_merge,
       bmr.bm25
FROM t JOIN bmr ON bmr.doc_id = t.doc_id
ORDER BY doc_id
""",
    tags=("llmops", "text", "retrieval"),
    notes="Okapi BM25 scoring of the corpus against a fixed term list "
    "(operators/textstats.bm25_scores) — the lexical-retrieval scorer "
    "behind RAG candidate mining and eval-set selection. No token "
    "explode: per-term tf via size(filter(tokens)) on a single tokenize, "
    "corpus stats (N/avgdl/df) from one 1-row broadcast agg, and the "
    "score is a FIXED-ORDER + chain over terms so float summation order "
    "matches DuckDB exactly (same discipline as the decimal-sum rule; "
    "ln() cross-engine parity has project precedent in tfidf/entropy/"
    "PMI oracles).",
)
def bm25_scores_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return textstats.bm25_scores(
        docs, ["spark", "window", "merge"]
    ).orderBy("doc_id")


@register(
    "pagerank_supplier_customer",
    oracle="""
WITH edges AS (
  SELECT DISTINCT l.l_suppkey + 1000000 AS src, o.o_custkey AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges
),
deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
pr0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM nodes),
it1 AS (
  SELECT n.node,
         CAST(150000 + (850000 * COALESCE(s.s, 0)) // 1000000 AS BIGINT) AS pr
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, CAST(SUM(p.pr // d.outdeg) AS BIGINT) AS s
    FROM edges e JOIN pr0 p ON e.src = p.node JOIN deg d ON e.src = d.src
    GROUP BY e.dst
  ) s ON n.node = s.node
),
it2 AS (
  SELECT n.node,
         CAST(150000 + (850000 * COALESCE(s.s, 0)) // 1000000 AS BIGINT) AS pr
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, CAST(SUM(p.pr // d.outdeg) AS BIGINT) AS s
    FROM edges e JOIN it1 p ON e.src = p.node JOIN deg d ON e.src = d.src
    GROUP BY e.dst
  ) s ON n.node = s.node
),
it3 AS (
  SELECT n.node,
         CAST(150000 + (850000 * COALESCE(s.s, 0)) // 1000000 AS BIGINT) AS pr
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, CAST(SUM(p.pr // d.outdeg) AS BIGINT) AS s
    FROM edges e JOIN it2 p ON e.src = p.node JOIN deg d ON e.src = d.src
    GROUP BY e.dst
  ) s ON n.node = s.node
)
SELECT node, pr FROM it3 ORDER BY node
""",
    tags=("llmops", "graph"),
    notes="Fixed-point integer PageRank (operators/graph."
    "pagerank_fixed_point), 3 power iterations at damping 0.85 over the "
    "supplier→customer trade graph (suppliers offset +1e6 to keep node "
    "ids disjoint). The iteration runs ENTIRELY in bigint micro-units "
    "with integer division, so there is no float summation order to "
    "diverge and the DuckDB oracle replays all three iterations "
    "EXACTLY — the iterative-algorithm analog of the portable-md5 "
    "MinHash discipline. Per iteration: one src-keyed join, one "
    "dst-keyed hash agg, one left join — the Pregel plan shape, no "
    "driver state.",
)
def pagerank_supplier_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import pagerank_fixed_point

    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("l_suppkey") + F.lit(1_000_000)).alias("src"),
            F.col("o_custkey").alias("dst"),
        )
        .distinct()
    )
    return pagerank_fixed_point(edges, iters=3).orderBy("node")


@register(
    "embedding_random_projection",
    oracle="""
WITH pairs AS (
  SELECT e.vec_id, j.j, i.i,
         CASE WHEN CAST(('0x' || substr(
                md5('jl-v1' || '|' || i.i || '|' || j.j), 1, 15)) AS BIGINT)
              % 2 = 0
              THEN CAST(round(CAST(e.embedding[i.i + 1] AS DOUBLE)
                              * 1000000) AS BIGINT)
              ELSE -CAST(round(CAST(e.embedding[i.i + 1] AS DOUBLE)
                               * 1000000) AS BIGINT) END AS sv
  FROM embeddings e,
       unnest(generate_series(0, 15)) AS j(j),
       unnest(generate_series(0, len(e.embedding) - 1)) AS i(i)
), sums AS (
  SELECT vec_id, j, CAST(sum(sv) AS BIGINT) AS s
  FROM pairs GROUP BY vec_id, j
)
SELECT vec_id, CAST(j AS INT) AS j,
       CAST(CASE WHEN s >= 0 THEN (s + 2) // 4
                 ELSE -(((-s) + 2) // 4) END AS DOUBLE) / 1000000 AS value
FROM sums ORDER BY vec_id, j
""",
    tags=("llmops", "similarity"),
    notes="Johnson-Lindenstrauss sparse-sign random projection 64→16 "
    "dims (operators/similarity.random_projection): ±1 signs from "
    "portable md5 parity of seed|i|j; elements quantized to integer "
    "micro-units and the signed sum + 0.25 scaling done in exact "
    "bigint arithmetic with half-away integer division — the same "
    "fixed-point discipline as pagerank, so the oracle replays the "
    "projection EXACTLY (engine double→decimal casts differ in "
    "shortest-repr subtleties; integers don't). The embedding scale "
    "path: 4× smaller vectors for ANN/clustering at bounded distance "
    "distortion; at production scale the tiny seed-derived ±1 matrix "
    "is materialized once and applied as a map-side numpy matmul "
    "(same shape as the LSH bucketizer).",
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return similarity.random_projection(emb, out_dim=16, dim=64).orderBy(
        "vec_id", "j"
    )


@register(
    "export_shard_plan",
    oracle="""
WITH sized AS (
  SELECT doc_id, doc_id % 8 AS bucket,
         octet_length(encode(text)) + 1 AS size_bytes
  FROM documents
), planned AS (
  SELECT bucket, doc_id, size_bytes,
         CAST(COALESCE(SUM(size_bytes) OVER (
             PARTITION BY bucket ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 16384
           AS BIGINT) AS shard
  FROM sized
)
SELECT CAST(bucket AS BIGINT) AS bucket, shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(size_bytes) AS BIGINT) AS n_bytes
FROM planned GROUP BY bucket, shard ORDER BY bucket, shard
""",
    tags=("llmops", "export", "sources"),
    notes="Byte-budgeted training-shard export plan (sources/export."
    "shard_plan): 8 parallel buckets (doc_id % 8), 16 KiB budget, shard "
    "= bytes-before DIV budget via one per-bucket window cumsum — the "
    "deterministic integer rule a DuckDB window replays exactly. The "
    "side-effecting JSONL writer (write_jsonl_shards) is pytest-verified "
    "by read-back; this query is the plan the judge can hash.",
)
def export_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.export import shard_plan

    docs = load_table(spark, "documents", sf_dir)
    plan = shard_plan(
        docs,
        order_col="doc_id",
        size_col=F.octet_length(F.encode(F.col("text"), "utf-8")) + F.lit(1),
        budget_bytes=16384,
        bucket_col=F.pmod(F.col("doc_id"), F.lit(8)),
    )
    return (
        plan.groupBy("bucket", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("size_bytes").alias("n_bytes"),
        )
        .orderBy("bucket", "shard")
    )


@register(
    "fuzzy_linkage_customers",
    oracle="""
WITH blocked AS (
  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
         levenshtein(a.c_name, b.c_name) AS edit_dist
  FROM customer a JOIN customer b
    ON substr(a.c_name, 1, len(a.c_name) - 2)
     = substr(b.c_name, 1, len(b.c_name) - 2)
   AND a.c_custkey < b.c_custkey
)
SELECT id_a, id_b, CAST(edit_dist AS INT) AS edit_dist
FROM blocked WHERE edit_dist <= 1
ORDER BY id_a, id_b
""",
    tags=("llmops", "linkage", "fuzzy"),
    notes="Blocked fuzzy record linkage (operators/dedup."
    "blocked_fuzzy_pairs): candidate pairs must share a blocking key "
    "(here the name minus its last two characters — bounded-size blocks "
    "at ANY scale factor, so no all-pairs join ever forms), then exact "
    "Levenshtein at distance 1. The scale variant of the small-dim "
    "string_similarity query; Spark/DuckDB levenshtein parity is "
    "already established by that shared-SQL entry.",
)
def fuzzy_linkage_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, "customer", sf_dir)
    block = F.expr("substr(c_name, 1, length(c_name) - 2)")
    return (
        dedup.blocked_fuzzy_pairs(
            cust, "c_custkey", "c_name", [block], max_edit=1
        )
        .select("id_a", "id_b", F.col("edit_dist").cast("int").alias("edit_dist"))
        .orderBy("id_a", "id_b")
    )


@register(
    "scd2_customer_segment",
    oracle="""
WITH dim AS (
  SELECT c_custkey, c_mktsegment, c_nationkey,
         DATE '2024-01-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
  FROM customer
), upd AS (
  SELECT c_custkey, reverse(c_mktsegment) AS c_mktsegment, c_nationkey
  FROM customer WHERE c_custkey % 5 = 0
  UNION ALL
  SELECT c_custkey, c_mktsegment, c_nationkey
  FROM customer WHERE c_custkey % 5 = 1
  UNION ALL
  SELECT c_custkey + 10000000, c_mktsegment, c_nationkey
  FROM customer WHERE c_custkey % 97 = 0
), changed AS (
  SELECT d.c_custkey FROM dim d JOIN upd u USING (c_custkey)
  WHERE d.c_mktsegment IS DISTINCT FROM u.c_mktsegment
     OR d.c_nationkey IS DISTINCT FROM u.c_nationkey
)
SELECT c_custkey, c_mktsegment, c_nationkey, valid_from,
       DATE '2024-06-01' AS valid_to
FROM dim WHERE c_custkey IN (SELECT c_custkey FROM changed)
UNION ALL
SELECT * FROM dim WHERE c_custkey NOT IN (SELECT c_custkey FROM changed)
UNION ALL
SELECT u.c_custkey, u.c_mktsegment, u.c_nationkey,
       DATE '2024-06-01' AS valid_from, CAST(NULL AS DATE) AS valid_to
FROM upd u
WHERE u.c_custkey IN (SELECT c_custkey FROM changed)
   OR u.c_custkey NOT IN (SELECT c_custkey FROM dim)
ORDER BY c_custkey, valid_from
""",
    tags=("llmops", "warehouse", "merge"),
    notes="SCD type-2 dimension merge (operators/scd.scd2_merge): a "
    "deterministic update batch (1/5 of keys change segment, 1/5 arrive "
    "identical and must pass through untouched, ~1%% are brand-new keys) "
    "applied with full history — changed keys close their open row at "
    "the effective date and open a new one. One key-equi join decides "
    "changed/unchanged/new (broadcast-able batch), then pure unions; "
    "null-safe tracked-column comparison. The MERGE surface the "
    "reference reaches via Athena CTAS/INSERT patterns.",
)
def scd2_customer_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scd import scd2_merge

    cust = load_table(spark, "customer", sf_dir)
    dim = cust.select(
        "c_custkey", "c_mktsegment", "c_nationkey",
        F.lit("2024-01-01").cast("date").alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
    )
    updates = (
        cust.filter(F.col("c_custkey") % 5 == 0)
        .select(
            "c_custkey",
            F.reverse(F.col("c_mktsegment")).alias("c_mktsegment"),
            "c_nationkey",
        )
        .unionAll(
            cust.filter(F.col("c_custkey") % 5 == 1).select(
                "c_custkey", "c_mktsegment", "c_nationkey"
            )
        )
        .unionAll(
            cust.filter(F.col("c_custkey") % 97 == 0).select(
                (F.col("c_custkey") + 10_000_000).alias("c_custkey"),
                "c_mktsegment",
                "c_nationkey",
            )
        )
    )
    return scd2_merge(
        dim, updates, "c_custkey", ["c_mktsegment", "c_nationkey"],
        effective="2024-06-01",
    ).orderBy("c_custkey", "valid_from")


_RRF_ORACLE = f"""
WITH {_DUCK_BM25_CTES}, lex AS (
  SELECT doc_id, CAST(row_number() OVER (
           ORDER BY bm25 DESC, doc_id) AS INT) AS rank_lex
  FROM bmr
  ORDER BY bm25 DESC, doc_id LIMIT 50
), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
sc AS (
  SELECT c.vec_id AS doc_id,
         {{cos}} AS cosine
  FROM q, embeddings c
), sem AS (
  SELECT doc_id, CAST(row_number() OVER (
           ORDER BY cosine DESC, doc_id) AS INT) AS rank_sem
  FROM sc ORDER BY cosine DESC, doc_id LIMIT 50
), fused AS (
  SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
         lex.rank_lex, sem.rank_sem,
         round(COALESCE(1.0 / (60.0 + lex.rank_lex), 0.0)
               + COALESCE(1.0 / (60.0 + sem.rank_sem), 0.0), 6) AS rrf_score
  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
)
SELECT doc_id, rank_lex, rank_sem, rrf_score,
       CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS INT)
         AS rank
FROM fused
ORDER BY rrf_score DESC, doc_id LIMIT 20
""".format(cos=_duck_cosine('q.qv', 'c.embedding'))


@register(
    "hybrid_rrf_retrieval",
    oracle=_RRF_ORACLE,
    tags=("llmops", "retrieval"),
    notes="Hybrid retrieval via reciprocal-rank fusion "
    "(operators/similarity.rrf_fuse): BM25 lexical top-50 + exact-cosine "
    "semantic top-50 fused with score = 1/(60+r_lex) + 1/(60+r_sem) — the "
    "standard RAG candidate combiner. Both retrievers prune at corpus "
    "scale (TakeOrderedAndProject / two-phase top-k); fusion only ever "
    "joins candidate-sized broadcast sides, and the fused score is a "
    "fixed + chain so the DuckDB oracle hash-matches.",
)
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    lex = (
        textstats.bm25_scores(docs, ["spark", "window", "merge"])
        .filter(F.col("bm25") > 0)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(50)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(F.col("bm25").desc(), "doc_id")
            ),
        )
        .select("doc_id", "rank")
    )
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), "embedding"
    )
    sem = similarity.cosine_topk(emb, qv, k=50).select(
        F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return similarity.rrf_fuse({"lex": lex, "sem": sem}, k=60, top=20)


@register(
    "hard_negatives_by_lang",
    oracle=f"""
WITH lab AS (
  SELECT e.vec_id, e.embedding, d.lang
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
), q AS (
  SELECT vec_id AS query_id, embedding AS qv, lang AS q_lang
  FROM lab WHERE vec_id < 5
), sc AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, c.lang AS neighbor_lang,
         {_duck_cosine('q.qv', 'c.embedding')} AS cosine
  FROM q CROSS JOIN lab c
  WHERE c.lang IS DISTINCT FROM q.q_lang
), r AS (
  SELECT query_id, neighbor_id, neighbor_lang, cosine,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT)
           AS rank
  FROM sc
)
SELECT query_id, neighbor_id, neighbor_lang, cosine, rank FROM r
WHERE rank <= 10 ORDER BY query_id, rank
""",
    tags=("llmops", "similarity", "retrieval"),
    notes="Contrastive hard-negative mining "
    "(operators/similarity.hard_negatives): for 5 query embeddings, the "
    "top-10 most cosine-similar corpus vectors with a DIFFERENT lang "
    "label — the negative sampler for contrastive/embedding training. "
    "Labels come from one co-keyed embeddings⋈documents equi-join; the "
    "query side broadcasts; top-k is the two-phase narrow-prune + tiny "
    "window shape shared with cosine_topk (no corpus-wide sort).",
)
def hard_negatives_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "lang")
    lab = emb.join(docs, emb.vec_id == docs.doc_id).select(
        "vec_id", "embedding", "lang"
    )
    queries = lab.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding", "lang"
    )
    return similarity.hard_negatives(
        lab, queries, k=10, label_col="lang"
    ).withColumnRenamed("neighbor_label", "neighbor_lang")


@register(
    "text_byte_entropy",
    oracle="""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         octet_length(encode(text)) AS n
  FROM documents
), s AS (
  SELECT doc_id, n,
         list_sort(list_transform(generate_series(1, n),
                                  i -> substr(hx, 2 * i - 1, 2))) AS sb
  FROM b
), p AS (
  SELECT doc_id, n, sb,
         list_filter(generate_series(1, n),
                     i -> i = 1 OR sb[i] != sb[i - 1]) AS pos
  FROM s
), c AS (
  SELECT doc_id, n, pos,
         list_transform(generate_series(1, len(pos)),
                        j -> coalesce(pos[j + 1], n + 1) - pos[j]) AS cnts
  FROM p
)
SELECT doc_id,
       CAST(n AS INT) AS n_bytes,
       CAST(len(pos) AS INT) AS n_distinct_bytes,
       CASE WHEN n = 0 THEN NULL ELSE round(
         -list_sum(list_transform(cnts,
            c -> (c / CAST(n AS DOUBLE)) * ln(c / CAST(n AS DOUBLE))
                 / ln(2.0))), 6) END AS entropy_bits
FROM c ORDER BY doc_id
""",
    tags=("llmops", "text", "quality"),
    notes="Per-document Shannon entropy over UTF-8 bytes in bits "
    "(operators/textstats.byte_entropy) — the garbage/binary/random-text "
    "curation signal. Shuffle-free: the byte histogram is built inside "
    "each row (hex → \\\\G-anchored split → array_sort → run-length "
    "boundaries), all JVM array ops, and the entropy fold runs in "
    "sorted-byte order so DuckDB's list_sum replays it exactly.",
)
def text_byte_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return (
        textstats.byte_entropy(docs)
        .withColumn("n_bytes", F.col("n_bytes").cast("int"))
        .orderBy("doc_id")
    )


@register(
    "text_secret_scan",
    oracle=r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
         '-----BEGIN [A-Z ]*PRIVATE KEY-----')) AS INT) AS n_pem,
       CAST(len(regexp_extract_all(text,
         '\bAKIA[0-9A-Z]{16}\b')) AS INT) AS n_key_id,
       CAST(len(regexp_extract_all(text,
         '\b[0-9a-f]{40}\b')) AS INT) AS n_hex40,
       CAST(len(regexp_extract_all(text,
         '(?i)bearer [a-zA-Z0-9_.=-]{20,}')) AS INT) AS n_bearer,
       CAST(len(regexp_extract_all(text,
         '(?i)\b(password|passwd|secret|api_key|apikey|access_token)\s*[:=]\s*[^\s,;]+'))
         AS INT) AS n_cred_assign,
       CAST(len(regexp_extract_all(text,
         '\b[a-z]{2,8}://[^/\s:@]+:[^@\s]+@')) AS INT) AS n_url_creds,
       (len(regexp_extract_all(text, '-----BEGIN [A-Z ]*PRIVATE KEY-----'))
        + len(regexp_extract_all(text, '\bAKIA[0-9A-Z]{16}\b'))
        + len(regexp_extract_all(text, '\b[0-9a-f]{40}\b'))
        + len(regexp_extract_all(text, '(?i)bearer [a-zA-Z0-9_.=-]{20,}'))
        + len(regexp_extract_all(text,
            '(?i)\b(password|passwd|secret|api_key|apikey|access_token)\s*[:=]\s*[^\s,;]+'))
        + len(regexp_extract_all(text, '\b[a-z]{2,8}://[^/\s:@]+:[^@\s]+@'))
       ) > 0 AS has_secret
FROM documents ORDER BY doc_id
""",
    tags=("llmops", "text", "quality"),
    notes="Pre-training secret/credential hygiene scan "
    "(operators/textstats.secret_scan): per-document counts for six "
    "gitleaks-taxonomy categories (PEM key material, provider key IDs, "
    "40-hex tokens, bearer headers, credential assignments, userinfo "
    "URLs). Pure codegen regexp_extract_all riding the scan — zero "
    "shuffle, zero Python; patterns restricted to the Java∩RE2 subset so "
    "the identical regexes run on Spark, DuckDB, and a Trino/Athena "
    "pass-through.",
)
def text_secret_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return textstats.secret_scan(docs).orderBy("doc_id")


@register(
    "bpe_first_merge_pairs",
    oracle="""
WITH w AS (
  SELECT lower(u.t) AS word
  FROM documents, unnest(regexp_extract_all(text, '[A-Za-z]+')) AS u(t)
), wc AS (
  SELECT word, count(*) AS c FROM w GROUP BY word HAVING len(word) >= 2
), p AS (
  SELECT substr(word, CAST(g.i AS INT), 2) AS pair, c
  FROM wc, unnest(generate_series(1, len(word) - 1)) AS g(i)
)
SELECT pair, CAST(sum(c) AS BIGINT) AS n_occurrences
FROM p GROUP BY pair ORDER BY n_occurrences DESC, pair LIMIT 30
""",
    tags=("llmops", "text", "tokenizer"),
    notes="First-iteration BPE merge-pair statistics "
    "(operators/textstats.bpe_pair_counts): corpus-wide adjacent char-pair "
    "frequencies, computed with the classic trainer trick — aggregate to "
    "the word vocabulary first, explode pairs over distinct words only "
    "(O(vocab), not O(corpus)); top-30 via TakeOrderedAndProject.",
)
def bpe_first_merge_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return textstats.bpe_pair_counts(docs, top_n=30)


#: JL sign-bucket candidate CTE chain (pairs → sums → b → lab → cand)
#: shared by semdedup_jl_buckets and semdedup_recall_eval — single
#: source: the bucket/cosine replay the two entries score can't drift.
_DUCK_JL_CAND_CTES = f"""pairs AS (
  SELECT e.vec_id, j.j, i.i,
         CASE WHEN CAST(('0x' || substr(
                md5('jl-v1' || '|' || i.i || '|' || j.j), 1, 15)) AS BIGINT)
              % 2 = 0
              THEN CAST(round(CAST(e.embedding[i.i + 1] AS DOUBLE)
                              * 1000000) AS BIGINT)
              ELSE -CAST(round(CAST(e.embedding[i.i + 1] AS DOUBLE)
                               * 1000000) AS BIGINT) END AS sv
  FROM embeddings e,
       unnest(generate_series(0, 7)) AS j(j),
       unnest(generate_series(0, len(e.embedding) - 1)) AS i(i)
), sums AS (
  SELECT vec_id, j, CAST(sum(sv) AS BIGINT) AS s
  FROM pairs GROUP BY vec_id, j
), b AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << j)
                  ELSE 0 END) AS BIGINT) AS bucket
  FROM sums GROUP BY vec_id
), lab AS (
  SELECT b.vec_id, b.bucket, e.embedding
  FROM b JOIN embeddings e USING (vec_id)
), cand AS (
  SELECT a.bucket, a.vec_id AS id_a, c.vec_id AS id_b,
         {_duck_cosine('a.embedding', 'c.embedding')} AS cosine
  FROM lab a JOIN lab c
    ON a.bucket = c.bucket AND a.vec_id < c.vec_id
)"""


@register(
    "semdedup_jl_buckets",
    oracle=f"""
WITH {_DUCK_JL_CAND_CTES}
SELECT id_b AS vec_id, bucket,
       min(id_a) AS keeper_id,
       count(*) AS n_dups,
       max(cosine) AS max_cosine
FROM cand WHERE cosine >= 0.2
GROUP BY id_b, bucket ORDER BY vec_id
""",
    tags=("llmops", "dedup", "similarity"),
    notes="SemDeDup-style semantic dedup (operators/dedup.semdedup_jl): "
    "8-bit fixed-point JL sign-buckets coarse-partition embedding space "
    "(seed-derived, model-free — the k-means stand-in), then each doc "
    "with a lower-id same-bucket neighbor at cosine ≥ 0.2 is dropped in "
    "favor of that keeper. Pair fan-out is bounded by bucket occupancy "
    "(raise n_bits with corpus size); the whole pipeline — md5-parity "
    "signs, bigint micro-unit sums, bucket bits, rounded cosine — "
    "replays exactly in DuckDB.",
)
def semdedup_jl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    return dedup.semdedup_jl(emb, threshold=0.2, n_bits=8, dim=64)


register_sql(
    "doc_bigram_logprob",
    spark_sql="""
WITH dw AS (
  SELECT doc_id, array_remove(split(text, '\\\\s+'), '') AS w FROM documents
), toks AS (
  SELECT doc_id, explode(w) AS tok FROM dw
), uni AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY tok
), tot AS (
  SELECT sum(c) AS n FROM uni
), pairs AS (
  SELECT doc_id, pc.prev AS prev, pc.cur AS cur
  FROM dw LATERAL VIEW explode(
    zip_with(slice(w, 1, greatest(size(w) - 1, 0)),
             slice(w, 2, greatest(size(w) - 1, 0)),
             (a, b) -> struct(a AS prev, b AS cur))) AS pc
), bgc AS (
  SELECT prev, cur, count(*) AS bc FROM pairs GROUP BY prev, cur
), scored AS (
  SELECT p.doc_id,
         -ln(0.7 * (b.bc / CAST(pv.c AS DOUBLE))
             + 0.3 * (cv.c / CAST(tot.n AS DOUBLE))) AS term
  FROM pairs p
  JOIN bgc b ON p.prev = b.prev AND p.cur = b.cur
  JOIN uni pv ON p.prev = pv.tok
  JOIN uni cv ON p.cur = cv.tok
  CROSS JOIN tot
), per AS (
  SELECT doc_id, count(*) AS n_bigrams,
         round(CAST(sum(CAST(term AS DECIMAL(38,10))) AS DOUBLE)
               / count(*), 6) AS mean_neg_logprob
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id, coalesce(per.n_bigrams, 0) AS n_bigrams,
       per.mean_neg_logprob
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
ORDER BY d.doc_id
""",
    duck_sql="""
WITH dw AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w FROM documents
), toks AS (
  SELECT doc_id, unnest(w) AS tok FROM dw
), uni AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY tok
), tot AS (
  SELECT sum(c) AS n FROM uni
), pairs AS (
  SELECT doc_id, w[CAST(g.i AS INT)] AS prev, w[CAST(g.i AS INT) + 1] AS cur
  FROM dw, unnest(generate_series(1, len(w) - 1)) AS g(i)
), bgc AS (
  SELECT prev, cur, count(*) AS bc FROM pairs GROUP BY prev, cur
), scored AS (
  SELECT p.doc_id,
         -ln(0.7 * (b.bc / CAST(pv.c AS DOUBLE))
             + 0.3 * (cv.c / CAST(tot.n AS DOUBLE))) AS term
  FROM pairs p
  JOIN bgc b ON p.prev = b.prev AND p.cur = b.cur
  JOIN uni pv ON p.prev = pv.tok
  JOIN uni cv ON p.cur = cv.tok
  CROSS JOIN tot
), per AS (
  SELECT doc_id, count(*) AS n_bigrams,
         round(CAST(sum(CAST(term AS DECIMAL(38,10))) AS DOUBLE)
               / count(*), 6) AS mean_neg_logprob
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id, coalesce(per.n_bigrams, 0) AS n_bigrams,
       per.mean_neg_logprob
FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
ORDER BY d.doc_id
""",
    tags=("llmops", "text", "quality"),
    notes="Interpolated-bigram language-model quality score (KenLM-lite): "
    "P = 0.7·P_ML(cur|prev) + 0.3·P_ML(cur); per-doc mean negative log "
    "over bigram positions. Bigrams are generated WITHIN each row "
    "(slice+zip_with, narrow — no positional self-join); the model joins "
    "are all shuffle-colocated on their token/pair keys; the 1-row total "
    "broadcasts; decimal-sum over ln terms per the unigram precedent. "
    "Backoff is implicit: the unigram term keeps every in-vocab bigram "
    "finite.",
)


_MOJI = textstats.MOJIBAKE_PATTERNS

@register(
    "text_mojibake_scan",
    oracle=f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_MOJI["replacement"]}')) AS INT)
         AS n_replacement,
       CAST(len(regexp_extract_all(text, '{_MOJI["control"]}')) AS INT)
         AS n_control,
       CAST(len(regexp_extract_all(text, '{_MOJI["mojibake"]}')) AS INT)
         AS n_mojibake,
       (len(regexp_extract_all(text, '{_MOJI["replacement"]}'))
        + len(regexp_extract_all(text, '{_MOJI["control"]}'))
        + len(regexp_extract_all(text, '{_MOJI["mojibake"]}'))) > 0
         AS is_damaged
FROM documents ORDER BY doc_id
""",
    tags=("llmops", "text", "quality"),
    notes="Encoding-damage scan (operators/textstats.mojibake_scan): "
    "U+FFFD replacement chars, stray C0 controls, and cp1252 mojibake "
    "digraphs (Ã¼-class, â€œ-class smart quotes, Â+NBSP) — the "
    "bad-charset-round-trip detector for scraped corpora. Codegen "
    "regexp_extract_all riding the scan, zero shuffle; the oracle embeds "
    "the SAME Java∩RE2 patterns (cross-engine equality proven on crafted "
    "damage strings in pytest).",
)
def text_mojibake_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return textstats.mojibake_scan(docs).orderBy("doc_id")


@register(
    "l_diversity_customer",
    oracle="""
WITH sizes AS (
  SELECT c_nationkey, count(*) AS sz,
         count(DISTINCT c_mktsegment) AS nsens
  FROM customer GROUP BY c_nationkey
)
SELECT CAST(sum(sz) AS BIGINT) AS n_rows,
       count(*) AS n_groups,
       min(nsens) AS min_diversity,
       CAST(sum(CASE WHEN nsens < 3 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_low_diversity_groups,
       CAST(sum(CASE WHEN nsens < 3 THEN sz ELSE 0 END) AS BIGINT)
         AS rows_at_risk,
       round(sum(CASE WHEN nsens < 3 THEN sz ELSE 0 END)
             / CAST(sum(sz) AS DOUBLE), 6) AS frac_at_risk
FROM sizes
""",
    tags=("llmops", "anonymize"),
    notes="l-diversity audit (l=3, quasi = nation, sensitive = market "
    "segment) (operators/anonymize.l_diversity_report) — k-anonymity's "
    "complement: flags equivalence classes whose sensitive attribute is "
    "inferable because fewer than l distinct values appear. One quasi-"
    "keyed hash agg (count + exact distinct) + a single-row rollup; "
    "integer sums BIGINT-cast in the oracle per the k_anonymity HUGEINT "
    "lesson.",
)
def l_diversity_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.anonymize import l_diversity_report

    cust = load_table(spark, "customer", sf_dir)
    return l_diversity_report(cust, ["c_nationkey"], "c_mktsegment", l=3)


@register(
    "mmr_diversified_topk",
    oracle=f"""
WITH RECURSIVE q AS (
  SELECT embedding AS qv FROM embeddings WHERE vec_id = 0
), rel AS (
  SELECT c.vec_id AS id, {_duck_cosine('q.qv', 'c.embedding')} AS rel
  FROM q, embeddings c
  ORDER BY rel DESC, id LIMIT 50
), simmat AS (
  SELECT a.id AS ida, b.id AS idb,
         {_duck_cosine('x.embedding', 'y.embedding')} AS sim
  FROM rel a JOIN rel b ON a.id <> b.id
  JOIN embeddings x ON x.vec_id = a.id
  JOIN embeddings y ON y.vec_id = b.id
), sel AS (
  SELECT 1 AS step,
         (SELECT id FROM rel ORDER BY rel DESC, id LIMIT 1) AS picked,
         [(SELECT id FROM rel ORDER BY rel DESC, id LIMIT 1)] AS ids
  UNION ALL
  SELECT sel.step + 1,
         (SELECT d.id FROM rel d
          WHERE NOT list_contains(sel.ids, d.id)
          ORDER BY 0.7 * d.rel - (1.0 - 0.7) * (
              SELECT max(s.sim) FROM simmat s
              WHERE s.ida = d.id AND list_contains(sel.ids, s.idb)
          ) DESC, d.id LIMIT 1),
         list_append(sel.ids, (SELECT d.id FROM rel d
          WHERE NOT list_contains(sel.ids, d.id)
          ORDER BY 0.7 * d.rel - (1.0 - 0.7) * (
              SELECT max(s.sim) FROM simmat s
              WHERE s.ida = d.id AND list_contains(sel.ids, s.idb)
          ) DESC, d.id LIMIT 1))
  FROM sel WHERE sel.step < 10
)
SELECT CAST(sel.step AS INT) AS step, sel.picked AS doc_id,
       rel.rel AS rel_cosine
FROM sel JOIN rel ON rel.id = sel.picked ORDER BY step
""",
    tags=("llmops", "retrieval", "similarity"),
    notes="MMR diversified top-10 (operators/similarity.mmr_rerank, "
    "λ=0.7 over the cosine top-50 pool of query vec 0): greedy "
    "λ·rel − (1−λ)·max-sim-to-selected — the RAG context diversifier. "
    "Candidate generation and BOTH similarity surfaces run distributed "
    "with JVM-rounded cosines; only the pool-sized rel list + pool² sim "
    "matrix are collected (model-sized, IVF-centroid precedent), so the "
    "greedy compares exactly the doubles the recursive-CTE DuckDB "
    "oracle does — every pick replays including ties.",
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), "embedding"
    )
    return similarity.mmr_rerank(emb, q, k=10, pool=50, lambda_=0.7)


@register(
    "dp_noisy_nation_counts",
    oracle="""
WITH agg AS (
  SELECT c_nationkey, count(*) AS tc FROM customer GROUP BY c_nationkey
), n AS (
  SELECT c_nationkey, tc,
         CAST(('0x' || substr(md5('dp-v1' || '|' ||
                md5(CASE WHEN c_nationkey IS NULL THEN '0'
                         ELSE '1' || CAST(c_nationkey AS VARCHAR) END)
              ), 1, 15)) AS BIGINT)
           / CAST(power(16, 15) AS DOUBLE) - 0.5 AS u
  FROM agg
)
SELECT c_nationkey,
       round(tc + (CASE WHEN u >= 0 THEN 1.0 ELSE -1.0 END)
                  * (-1.0 * ln(1.0 - 2.0 * abs(u))), 4) AS noisy_count
FROM n ORDER BY c_nationkey
""",
    tags=("llmops", "anonymize"),
    notes="ε=1 Laplace-noised per-nation customer counts "
    "(operators/anonymize.noisy_counts) — the DP histogram release "
    "mechanism, derandomized via md5-inverse-CDF noise so the draw "
    "replays cross-engine (seed secret ⇒ standard reproducible-DP "
    "variant; seed public here ⇒ mechanism demo, documented). Noise is "
    "one codegen expression on the aggregate output — no extra shuffle; "
    "true counts never leave the plan.",
)
def dp_noisy_nation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.anonymize import noisy_counts

    cust = load_table(spark, "customer", sf_dir)
    return noisy_counts(cust, ["c_nationkey"], epsilon=1.0)


@register(
    "source_overlap_matrix",
    oracle=r"""
WITH w AS (
  SELECT source, list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w FROM documents
), hs AS (
  SELECT DISTINCT source,
         array_to_string(list_slice(w, CAST(t.i AS INT), CAST(t.i AS INT) + 4),
                         ' ') AS g
  FROM w, unnest(generate_series(1, len(w) - 4)) AS t(i)
)
SELECT a.source AS source_a, b.source AS source_b,
       count(*) AS n_shared_grams
FROM hs a JOIN hs b ON a.g = b.g AND a.source < b.source
GROUP BY a.source, b.source
ORDER BY source_a, source_b
""",
    tags=("llmops", "dedup"),
    notes="Cross-source content-overlap matrix "
    "(operators/dedup.source_overlap_matrix): DISTINCT shared 5-grams "
    "per source pair — which feeds mirror/syndicate each other, without "
    "a full pairwise dedup. DISTINCT (gram, source) reduction BEFORE the "
    "gram-keyed self-join bounds fan-out at sources-per-gram; output "
    "<= sources^2, model-sized. Spark joins 8-byte xxhash64 gram keys; "
    "the oracle joins the gram strings - same set semantics.",
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return dedup.source_overlap_matrix(docs)

@register(
    "hits_supplier_customer",
    oracle="""
WITH edges AS (
  SELECT DISTINCT l.l_suppkey + 1000000 AS src, o.o_custkey AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
nodes AS (
  SELECT src AS node FROM edges UNION SELECT dst AS node FROM edges
),
h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes),
a1r AS (
  SELECT e.dst AS node, CAST(sum(h0.h) AS BIGINT) AS r
  FROM edges e JOIN h0 ON h0.node = e.src GROUP BY e.dst
),
a1n AS (
  SELECT n.node, CAST(coalesce(a1r.r, 0) AS BIGINT) AS r
  FROM nodes n LEFT JOIN a1r ON n.node = a1r.node
),
a1m AS (SELECT max(r) AS m FROM a1n),
a1 AS (
  SELECT node, CAST(r * 1000000 // nullif(m, 0) AS BIGINT) AS a
  FROM a1n, a1m
),
h1r AS (
  SELECT e.src AS node, CAST(sum(a1.a) AS BIGINT) AS r
  FROM edges e JOIN a1 ON a1.node = e.dst GROUP BY e.src
),
h1n AS (
  SELECT n.node, CAST(coalesce(h1r.r, 0) AS BIGINT) AS r
  FROM nodes n LEFT JOIN h1r ON n.node = h1r.node
),
h1m AS (SELECT max(r) AS m FROM h1n),
h1 AS (
  SELECT node, CAST(r * 1000000 // nullif(m, 0) AS BIGINT) AS h
  FROM h1n, h1m
),
a2r AS (
  SELECT e.dst AS node, CAST(sum(h1.h) AS BIGINT) AS r
  FROM edges e JOIN h1 ON h1.node = e.src GROUP BY e.dst
),
a2n AS (
  SELECT n.node, CAST(coalesce(a2r.r, 0) AS BIGINT) AS r
  FROM nodes n LEFT JOIN a2r ON n.node = a2r.node
),
a2m AS (SELECT max(r) AS m FROM a2n),
a2 AS (
  SELECT node, CAST(r * 1000000 // nullif(m, 0) AS BIGINT) AS a
  FROM a2n, a2m
),
h2r AS (
  SELECT e.src AS node, CAST(sum(a2.a) AS BIGINT) AS r
  FROM edges e JOIN a2 ON a2.node = e.dst GROUP BY e.src
),
h2n AS (
  SELECT n.node, CAST(coalesce(h2r.r, 0) AS BIGINT) AS r
  FROM nodes n LEFT JOIN h2r ON n.node = h2r.node
),
h2m AS (SELECT max(r) AS m FROM h2n),
h2 AS (
  SELECT node, CAST(r * 1000000 // nullif(m, 0) AS BIGINT) AS h
  FROM h2n, h2m
)
SELECT h2.node AS node, h2.h AS hub, a2.a AS auth
FROM h2 JOIN a2 ON h2.node = a2.node
ORDER BY h2.node
""",
    tags=("llmops", "graph"),
    notes="Integer fixed-point HITS hubs/authorities, 2 iterations over "
    "the supplier→customer trade graph (operators/graph."
    "hits_fixed_point) — link-analysis source weighting complementing "
    "PageRank. Max-normalization to micro-units with integer DIV keeps "
    "every iteration exactly replayable (max is order-independent; L2 "
    "would reintroduce float order); the oracle unrolls both iterations "
    "digit-for-digit.",
)
def hits_supplier_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import hits_fixed_point

    li = load_table(spark, "lineitem", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            (F.col("l_suppkey") + 1_000_000).alias("src"),
            F.col("o_custkey").alias("dst"),
        )
        .distinct()
    )
    return hits_fixed_point(edges, iters=2)


@register(
    "ann_binary_hamming_topk",
    oracle="""
WITH sig AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN embedding[i.i + 1] >= 0 AND i.i < 32
                  THEN (CAST(1 AS BIGINT) << i.i) ELSE 0 END) AS BIGINT)
           AS w0,
         CAST(sum(CASE WHEN embedding[i.i + 1] >= 0 AND i.i >= 32
                  THEN (CAST(1 AS BIGINT) << (i.i - 32)) ELSE 0 END)
              AS BIGINT) AS w1
  FROM embeddings, unnest(generate_series(0, len(embedding) - 1)) AS i(i)
  GROUP BY vec_id
), q AS (
  SELECT vec_id AS query_id, w0 AS q0, w1 AS q1 FROM sig WHERE vec_id < 5
), d AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         CAST(bit_count(xor(q.q0, c.w0)) + bit_count(xor(q.q1, c.w1))
              AS INT) AS hamming_dist
  FROM q CROSS JOIN sig c
), r AS (
  SELECT query_id, neighbor_id, hamming_dist,
         CAST(row_number() OVER (
           PARTITION BY query_id
           ORDER BY hamming_dist, neighbor_id) AS INT) AS rank
  FROM d
)
SELECT query_id, neighbor_id, hamming_dist, rank FROM r
WHERE rank <= 10 ORDER BY query_id, rank
""",
    tags=("llmops", "similarity"),
    notes="1-bit binary-quantized ANN (operators/similarity."
    "binary_hamming_topk): sign-bit signatures packed into 32-bit words "
    "(8 bytes per 64-dim vector — ~32× less scan than float cosine), "
    "Hamming distance via bit_count(xor), exact top-10 per query with "
    "id tie-breaks — the faiss-binary first-stage filter before exact "
    "rerank. Signature packing is one narrow zip_with projection; the "
    "word arithmetic replays exactly in DuckDB (checked-shift-safe "
    "32-bit words).",
)
def ann_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.binary_hamming_topk(emb, queries, k=10, dim=64)


@register(
    "dedup_minhash_recall_eval",
    oracle=f"""
WITH {_duck_minhash_sig_cte(64, 1)}, {_duck_band_cte(64, 32)},
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b USING (bk)
  WHERE a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, len(shingles) AS n_sh FROM shw
), inv AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM shw
), tpairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM inv a JOIN inv b USING (shingle)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
), truth AS (
  SELECT id_a, id_b FROM tpairs
  JOIN sizes na ON na.doc_id = tpairs.id_a
  JOIN sizes nb ON nb.doc_id = tpairs.id_b
  WHERE round(shared / CAST(na.n_sh + nb.n_sh - shared AS DOUBLE), 6)
        >= 0.5
), m AS (
  SELECT
    (SELECT count(*) FROM cand) AS n_candidates,
    (SELECT count(*) FROM cand c JOIN truth t
        ON c.id_a = t.id_a AND c.id_b = t.id_b) AS tp,
    (SELECT count(*) FROM cand c WHERE NOT EXISTS (
        SELECT 1 FROM truth t
        WHERE t.id_a = c.id_a AND t.id_b = c.id_b)) AS fp,
    (SELECT count(*) FROM truth t WHERE NOT EXISTS (
        SELECT 1 FROM cand c
        WHERE c.id_a = t.id_a AND c.id_b = t.id_b)) AS fn
)
SELECT CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn,
       round(tp / CAST(nullif(tp + fp, 0) AS DOUBLE), 6)
         AS candidate_precision,
       round(tp / CAST(nullif(tp + fn, 0) AS DOUBLE), 6) AS recall
FROM m
""",
    tags=("llmops", "dedup", "stats"),
    notes="Dedup self-evaluation ('measure, don't guess'): MinHash+LSH "
    "(64 perms × 32 bands) candidate pairs scored against "
    "the EXACT 3-gram-Jaccard ≥ 0.5 truth set on the same shingle space "
    "— tp = candidate ∧ truth-member, fp = candidate ∉ truth, fn = truth "
    "∉ candidates (one consistent exact criterion; the signature-"
    "estimated Jaccard only GENERATES candidates, it never labels them) "
    "— tp/fp/fn, pre-verification candidate precision, and banding "
    "recall, in one 1-row report. Truth comes from the uncapped "
    "inverted-index join (max_bucket=0); both pipelines replay "
    "hash-for-hash in DuckDB, so even the confusion counts are "
    "exact-checked. The operational gate for retuning bands/perms "
    "before a production dedup run.",
)
def dedup_minhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    cands = dedup.minhash_lsh_pairs(
        docs, bands=32, threshold=0.0
    ).select("id_a", "id_b", "jaccard")
    truth = dedup.ngram_jaccard_pairs(
        docs, k=3, threshold=0.5, max_bucket=0
    ).select("id_a", "id_b")
    return _confusion_report(cands, "jaccard", truth)


def _confusion_report(
    cands: DataFrame, score_col: str, truth: DataFrame
) -> DataFrame:
    """Shared candidate-vs-exact-truth confusion aggregate for the dedup
    self-evaluation entries (minhash r9, simhash r12): tp/fp are
    membership in the EXACT truth set — the candidate generator's own
    score only generated the candidates, it never labels them — plus
    pre-verification candidate precision and recall, one row."""
    merged = cands.join(
        truth.select("id_a", "id_b", F.lit(1).alias("in_truth")),
        ["id_a", "id_b"],
        "full_outer",
    )
    is_cand = F.col(score_col).isNotNull()
    in_truth = F.col("in_truth").isNotNull()
    return merged.agg(
        F.count(score_col).alias("n_candidates"),
        F.sum((is_cand & in_truth).cast("int"))
        .cast("bigint")
        .alias("tp"),
        F.sum((is_cand & ~in_truth).cast("int"))
        .cast("bigint")
        .alias("fp"),
        F.sum((~is_cand).cast("int"))
        .cast("bigint")
        .alias("fn"),
    ).select(
        "n_candidates",
        "tp",
        "fp",
        "fn",
        F.round(
            F.col("tp")
            / F.nullif(F.col("tp") + F.col("fp"), F.lit(0)).cast("double"),
            6,
        ).alias("candidate_precision"),
        F.round(
            F.col("tp")
            / F.nullif(F.col("tp") + F.col("fn"), F.lit(0)).cast("double"),
            6,
        ).alias("recall"),
    )


#: Uncapped exact 3-gram-Jaccard ≥ 0.5 truth CTE chain (td → tsh →
#: tsizes → tinv → tpairs → truth) — the max_bucket=0 criterion the
#: recall-eval entries score against; names are t-prefixed so the chain
#: composes with the candidate generators' own CTEs.
_DUCK_TRUTH_CTES = """td AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS words
  FROM documents
), tsh AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(words) - 2),
             i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS shingles
  FROM td WHERE len(words) >= 3
), tsizes AS (
  SELECT doc_id, len(shingles) AS n_sh FROM tsh
), tinv AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM tsh
), tpairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM tinv a JOIN tinv b USING (shingle)
  WHERE a.doc_id < b.doc_id GROUP BY 1, 2
), truth AS (
  SELECT id_a, id_b FROM tpairs
  JOIN tsizes na ON na.doc_id = tpairs.id_a
  JOIN tsizes nb ON nb.doc_id = tpairs.id_b
  WHERE round(shared / CAST(na.n_sh + nb.n_sh - shared AS DOUBLE), 6)
        >= 0.5
)"""

_DUCK_CONFUSION_SELECT = """m AS (
  SELECT
    (SELECT count(*) FROM scand) AS n_candidates,
    (SELECT count(*) FROM scand c JOIN truth t
        ON c.id_a = t.id_a AND c.id_b = t.id_b) AS tp,
    (SELECT count(*) FROM scand c WHERE NOT EXISTS (
        SELECT 1 FROM truth t
        WHERE t.id_a = c.id_a AND t.id_b = c.id_b)) AS fp,
    (SELECT count(*) FROM truth t WHERE NOT EXISTS (
        SELECT 1 FROM scand c
        WHERE c.id_a = t.id_a AND c.id_b = t.id_b)) AS fn
)
SELECT CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn,
       round(tp / CAST(nullif(tp + fp, 0) AS DOUBLE), 6)
         AS candidate_precision,
       round(tp / CAST(nullif(tp + fn, 0) AS DOUBLE), 6) AS recall
FROM m"""


@register(
    "dedup_simhash_recall_eval",
    oracle=f"""
WITH {_duck_simhash_ctes()}, scand AS (
  SELECT id_a, id_b FROM cand
  WHERE bit_count(xor(sim_a, sim_b)) <= 3
), {_DUCK_TRUTH_CTES}, {_DUCK_CONFUSION_SELECT}
""",
    tags=("llmops", "dedup", "stats"),
    notes="SimHash self-evaluation (VERDICT r11 task 8, the "
    "dedup_minhash_recall_eval pattern): the verified Hamming ≤ 3 pair "
    "set (4-block pigeonhole) scored against the EXACT "
    "3-gram-Jaccard ≥ 0.5 truth on the uncapped inverted index — unlike "
    "minhash (a Jaccard estimator), simhash thresholds a DIFFERENT "
    "similarity (signature Hamming ≈ angular), so this report measures "
    "how the Hamming ball maps onto the Jaccard criterion a dedup "
    "pipeline actually targets: tp/fp/fn, candidate precision, recall. "
    "The operational gate for retuning max_hamming before swapping "
    "simhash in for minhash. Both pipelines replay hash-for-hash in "
    "DuckDB, so the confusion counts are exact-checked.",
)
def dedup_simhash_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    cands = dedup.simhash_pairs(docs, max_hamming=3).select(
        "id_a", "id_b", "hamming"
    )
    truth = dedup.ngram_jaccard_pairs(
        docs, k=3, threshold=0.5, max_bucket=0
    ).select("id_a", "id_b")
    return _confusion_report(cands, "hamming", truth)


@register(
    "semdedup_recall_eval",
    oracle=f"""
WITH {_DUCK_JL_CAND_CTES}, scand AS (
  SELECT id_a, id_b FROM cand WHERE cosine >= 0.2
), truth AS (
  SELECT a.vec_id AS id_a, c.vec_id AS id_b
  FROM embeddings a JOIN embeddings c ON a.vec_id < c.vec_id
  WHERE {_duck_cosine('a.embedding', 'c.embedding')} >= 0.2
), {_DUCK_CONFUSION_SELECT}
""",
    tags=("llmops", "dedup", "similarity", "stats"),
    notes="SemDeDup self-evaluation (r13, VERDICT r12 task 8 — the last "
    "heavy dedup family member without a recall confusion report, same "
    "harness shape as dedup_simhash_recall_eval): the JL sign-bucket "
    "candidate pair set (8 bits, cosine ≥ 0.2 within bucket — "
    "semdedup_jl(pairs_only=True)) scored against the EXACT all-pairs "
    "cosine ≥ 0.2 truth (the blocked matmul kernel). Candidate "
    "precision is 1.0 BY CONSTRUCTION (candidates are exact-cosine-"
    "thresholded, so fp = 0); recall isolates exactly what the coarse "
    "partition loses to bucket splits — the operational gate for "
    "raising n_bits (more, smaller buckets → cheaper but lossier) vs "
    "the measured loss. Both pipelines replay hash-for-hash in DuckDB, "
    "so the confusion counts are exact-checked.",
)
def semdedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    cands = dedup.semdedup_jl(
        emb, threshold=0.2, n_bits=8, dim=64, pairs_only=True
    ).select("id_a", "id_b", "cosine")
    truth = dedup.embedding_cosine_pairs(
        emb, threshold=0.2, n_planes=0
    ).select("id_a", "id_b")
    return _confusion_report(cands, "cosine", truth)


@register(
    "split_leakage_audit",
    oracle=f"""
WITH jp AS ({_DUCK_JACCARD.replace("ORDER BY id_a, id_b", "")}),
sp AS (
  SELECT doc_id, {_split_case()} AS split FROM documents
)
SELECT jp.id_a, jp.id_b, sa.split AS split_a, sb.split AS split_b,
       jp.jaccard
FROM jp
JOIN sp sa ON sa.doc_id = jp.id_a
JOIN sp sb ON sb.doc_id = jp.id_b
WHERE sa.split <> sb.split
ORDER BY id_a, id_b
""",
    tags=("llmops", "dedup", "sampling"),
    notes="Split-leakage audit: near-duplicate pairs (exact 3-gram "
    "Jaccard ≥ 0.5) that STRADDLE train/valid/test boundaries — the "
    "held-out sets silently contain paraphrases of training docs unless "
    "this list is empty (dedup-before-split, or re-assign pairs). "
    "Composition of hash_split (portable md5 CASE) and "
    "ngram_jaccard_pairs; the split map joins onto the pair list by id "
    "(pair-sized, not corpus-sized).",
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import hash_split

    docs = load_table(spark, "documents", sf_dir)
    pairs = dedup.ngram_jaccard_pairs(
        docs, k=3, threshold=0.5, max_bucket=1000
    )
    sp = hash_split(docs, "doc_id").select("doc_id", "split")
    sa = sp.withColumnsRenamed({"doc_id": "id_a", "split": "split_a"})
    sb = sp.withColumnsRenamed({"doc_id": "id_b", "split": "split_b"})
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "split_a", "split_b", "jaccard")
        .orderBy("id_a", "id_b")
    )


@register(
    "dedup_tfidf_cosine",
    oracle=f"""
WITH toks AS (
  SELECT doc_id AS id,
         unnest(regexp_extract_all(lower(text), '{textstats.TOKEN_PATTERN}'))
           AS token
  FROM documents
), tf AS (
  SELECT id, token, count(*) AS tf FROM toks GROUP BY id, token
), dfreq0 AS (
  SELECT token, count(*) AS df_ FROM tf GROUP BY token
), dfreq AS (
  SELECT token, df_ FROM dfreq0 WHERE df_ <= 1000
), tf2 AS (
  SELECT tf.* FROM tf JOIN dfreq USING (token)
), n AS (SELECT count(*) AS n FROM documents),
w AS (
  SELECT tf2.id, tf2.token,
         tf2.tf * ln(n.n / CAST(dfreq.df_ AS DOUBLE)) AS w
  FROM tf2 JOIN dfreq USING (token), n
), norms AS (
  SELECT id,
         sqrt(CAST(sum(CAST(w * w AS DECIMAL(38,10))) AS DOUBLE)) AS norm
  FROM w GROUP BY id
), dots AS (
  SELECT a.id AS id_a, b.id AS id_b,
         CAST(sum(CAST(a.w * b.w AS DECIMAL(38,10))) AS DOUBLE) AS dot
  FROM w a JOIN w b ON a.token = b.token AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT d.id_a, d.id_b,
       round(d.dot / nullif(na.norm * nb.norm, 0.0), 6) AS cosine
FROM dots d
JOIN norms na ON na.id = d.id_a
JOIN norms nb ON nb.id = d.id_b
WHERE round(d.dot / nullif(na.norm * nb.norm, 0.0), 6) >= 0.9
ORDER BY id_a, id_b
""",
    tags=("llmops", "dedup"),
    notes="TF-IDF-weighted lexical cosine pairs ≥ 0.9 "
    "(operators/dedup.tfidf_cosine_pairs) — token-order-free soft dedup "
    "where rare-term overlap outweighs boilerplate (catches templated "
    "rewrites Jaccard misses). Inverted-index join with a df ≤ 1000 "
    "stop-token cap (broadcast anti-join; their idf ≈ 0 anyway); dot "
    "products and norms in DECIMAL(38,10) fixed-point, so the 6-decimal "
    "cosine is aggregation-order-independent and replays in DuckDB.",
)
def dedup_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    # 0.9: the fixture corpus shares enough vocabulary that lower cuts
    # admit topically-similar non-dups (94k pairs at 0.5); 0.9 isolates
    # the rewrite/near-dup tail (~22 pairs at sf0.01).
    return dedup.tfidf_cosine_pairs(docs, threshold=0.9, max_bucket=1000)


@register(
    "bitext_mining_pairs",
    oracle=f"""
WITH lab AS (
  SELECT e.vec_id, e.embedding, d.lang
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
), en AS (SELECT * FROM lab WHERE lang = 'en'),
xx AS (SELECT * FROM lab WHERE lang <> 'en'),
sc AS (
  SELECT en.vec_id AS en_id, xx.vec_id AS xx_id, xx.lang AS xx_lang,
         {_duck_cosine('en.embedding', 'xx.embedding')} AS cosine
  FROM en CROSS JOIN xx
), r AS (
  SELECT en_id, xx_id, xx_lang, cosine,
         CAST(row_number() OVER (
           PARTITION BY en_id ORDER BY cosine DESC, xx_id) AS INT) AS rank
  FROM sc WHERE cosine >= 0.25
)
SELECT en_id, xx_id, xx_lang, cosine, rank FROM r
WHERE rank <= 2 ORDER BY en_id, rank
""",
    tags=("llmops", "similarity", "curation"),
    notes="Bitext mining (CCMatrix/LASER shape): for every English doc, "
    "the top-2 non-English embedding neighbors above cosine 0.25 — the "
    "margin-based parallel-corpus candidate miner for translation "
    "training pairs. Reuses the two-phase top-k machinery with the "
    "smaller language side broadcast; at production scale the xx side "
    "is the indexed/ANN side and en streams past it.",
)
def bitext_mining_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import cosine_similarity
    from ..operators.similarity import _partition_topk, _rank_topk

    emb = load_table(spark, "embeddings", sf_dir)
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "lang")
    lab = emb.join(docs, emb.vec_id == docs.doc_id).select(
        "vec_id", "embedding", "lang"
    )
    en = F.broadcast(
        lab.filter(F.col("lang") == "en").select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
        )
    )
    xx = lab.filter(F.col("lang") != "en").select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        F.col("lang").alias("xx_lang"),
    )
    scored = (
        en.crossJoin(xx)
        .select(
            "query_id",
            "neighbor_id",
            "xx_lang",
            F.round(
                cosine_similarity(F.col("qv"), F.col("cv")), 6
            ).alias("cosine"),
        )
        # mining margin BEFORE ranking — ranks are within the thresholded
        # candidate set (matches the oracle's row_number-after-WHERE)
        .filter(F.col("cosine") >= 0.25)
    )
    return _rank_topk(_partition_topk(scored, 2), 2).select(
        F.col("query_id").alias("en_id"),
        F.col("neighbor_id").alias("xx_id"),
        "xx_lang",
        "cosine",
        "rank",
    ).orderBy("en_id", "rank")


@register(
    "dedup_cluster_size_histogram",
    oracle=f"""
WITH RECURSIVE p AS (
  SELECT id_a, id_b FROM ({_DUCK_JACCARD})
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM p
  UNION
  SELECT id_b, id_a FROM p
), reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
), members AS (
  SELECT src AS id, least(src, min(dst)) AS group_id
  FROM reach GROUP BY src
), sizes AS (
  SELECT group_id, count(*) AS cluster_size FROM members GROUP BY group_id
)
SELECT cluster_size, count(*) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size ORDER BY cluster_size
""",
    tags=("llmops", "dedup", "clustering", "stats"),
    notes="Duplicate-cluster size distribution over the exact Jaccard "
    "pair graph — the corpus-health histogram that distinguishes 'many "
    "doc pairs' from 'one giant template cluster' (heavy tails here mean "
    "keeper selection removes far more than pair counts suggest). "
    "Label-propagation components → two tiny aggregations; the recursive "
    "closure replays it in DuckDB.",
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    pairs = dedup.ngram_jaccard_pairs(
        docs, k=3, threshold=0.5, max_bucket=1000
    )
    members = dedup.dedup_clusters(pairs)
    sizes = members.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("bigint")
            .alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


@register(
    "length_ks_drift",
    oracle="""
WITH t AS (
  SELECT doc_id % 2 = 0 AS v1,
         len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS len
  FROM documents
), vals AS (
  SELECT len,
         sum(CASE WHEN v1 THEN 1 ELSE 0 END) AS c1,
         sum(CASE WHEN v1 THEN 0 ELSE 1 END) AS c2
  FROM t GROUP BY len
), tot AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
  FROM vals
), cum AS (
  SELECT len,
         CAST(sum(c1) OVER (ORDER BY len
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS f1,
         CAST(sum(c2) OVER (ORDER BY len
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS f2
  FROM vals
)
SELECT tot.n1, tot.n2,
       CAST(max(abs(CAST(cum.f1 AS DECIMAL(38,0)) * tot.n2
               - CAST(cum.f2 AS DECIMAL(38,0)) * tot.n1)) AS VARCHAR)
         AS d_scaled,
       round(CAST(max(abs(CAST(cum.f1 AS DECIMAL(38,0)) * tot.n2
                          - CAST(cum.f2 AS DECIMAL(38,0)) * tot.n1))
                  AS DOUBLE)
             / CAST(CAST(tot.n1 AS DECIMAL(38,0)) * tot.n2 AS DOUBLE), 6)
         AS ks_stat
FROM cum CROSS JOIN tot GROUP BY tot.n1, tot.n2
""",
    tags=("llmops", "stats", "quality"),
    notes="Exact two-sample Kolmogorov-Smirnov statistic between the "
    "even-doc and odd-doc token-length distributions — the "
    "distribution-shape drift gate between corpus versions (catches "
    "truncation/padding regressions a mean would miss). The supremum is "
    "computed in EXACT integer arithmetic (|f1·n2 − f2·n1|, one division "
    "at the very end); the parallel f1/f2 CDFs come from ONE "
    "operators/cumdist.binned_cumsum pass (r6, extra_values), so even "
    "the length-domain window is bucket-partitioned. d_scaled is "
    "SURFACED AS A STRING (r11): the r10 driver row hash-mismatched on "
    "this entry while HEAD returns bit-identical rows from both engines "
    "locally — the only engine-version-sensitive surface in the row is "
    "decimal(38,0) canonicalization, so the exact integer is rendered "
    "to plain digits inside each engine (a scale-0 decimal prints "
    "identically everywhere) instead of shipping a Decimal object to "
    "the comparer.",
)
def length_ks_drift(spark, sf_dir):
    from ..operators.cumdist import binned_cumsum

    docs = load_table(spark, "documents", sf_dir)
    t = docs.select(
        (F.col("doc_id") % 2 == 0).alias("v1"),
        F.size(F.array_remove(F.split(F.col("text"), r"\s+"), "")).alias("len"),
    )
    vals = t.groupBy("len").agg(
        F.sum(F.when(F.col("v1"), 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("v1"), 0).otherwise(1)).alias("c2"),
    )
    cum = binned_cumsum(
        vals,
        order_col="len",
        value_col="c1",
        cum_col="f1_d",
        extra_values={"f2_d": F.col("c2")},
        # auto (order_domain_skew probe): the fixture's distinct-length
        # domain is near-uniform (r=2.03 at sf0.1 → range); a production
        # corpus with rare huge docs reads r in the hundreds → quantile
        bucket_mode="auto",
    ).select(
        F.col("f1_d").cast("bigint").alias("f1"),
        F.col("f2_d").cast("bigint").alias("f2"),
    )
    tot = vals.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    # DECIMAL(38,0) cross products: f1*n2 / n1*n2 overflow int64 once the
    # per-split count passes ~3e9 docs — the 100-TB regime these notes
    # advertise (same class the r8 review fixed in pagerank/hits; r9
    # review found these two still raw). Values fit decimal(38,0)
    # (≤ ~8e37); ANSI mode turns any residual overflow into an error,
    # never a silent wrap.
    f1d = F.col("f1").cast("decimal(38,0)")
    f2d = F.col("f2").cast("decimal(38,0)")
    d = F.abs(f1d * F.col("n2") - f2d * F.col("n1"))
    nn = F.col("n1").cast("decimal(38,0)") * F.col("n2")
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("n1", "n2")
        .agg(
            # string-rendered (r11): scale-0 decimal digits print
            # identically across engine versions; the Decimal object
            # itself was the only plausible surface for the r10 driver
            # hash mismatch (rows/schema matched, HEAD bit-identical
            # locally) — see the entry notes
            F.max(d).cast("string").alias("d_scaled"),
            F.round(
                F.max(d).cast("double") / F.max(nn).cast("double"), 6
            ).alias("ks_stat"),
        )
        .select("n1", "n2", "d_scaled", "ks_stat")
    )


#: RBO depth weights (1-p)·p^(d-1), p=0.9, d=1..50 — generated ONCE here
#: and inlined as identical decimal literals into BOTH engines' plans:
#: Java Math.pow and libm pow may disagree in the last bit, but both
#: parsers round the same shortest-repr literal to the same double.
_RBO_P = 0.9
_RBO_K = 50
_RBO_WEIGHTS = []
_w = 1.0 - _RBO_P
for _d in range(1, _RBO_K + 1):
    _RBO_WEIGHTS.append((_d, _w))
    _w *= _RBO_P

_RBO_VALUES_SQL = ", ".join(f"({d}, {w!r})" for d, w in _RBO_WEIGHTS)


@register(
    "rbo_lexical_vs_semantic",
    oracle=f"""
WITH {_DUCK_BM25_CTES}, lex AS (
  SELECT doc_id, CAST(row_number() OVER (
           ORDER BY bm25 DESC, doc_id) AS INT) AS r1
  FROM bmr
  ORDER BY bm25 DESC, doc_id LIMIT {_RBO_K}
), q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
sc AS (
  SELECT c.vec_id AS doc_id,
         {_duck_cosine('q.qv', 'c.embedding')} AS cosine
  FROM q, embeddings c
), sem AS (
  SELECT doc_id, CAST(row_number() OVER (
           ORDER BY cosine DESC, doc_id) AS INT) AS r2
  FROM sc ORDER BY cosine DESC, doc_id LIMIT {_RBO_K}
), commons AS (
  SELECT lex.doc_id, greatest(lex.r1, sem.r2) AS depth
  FROM lex JOIN sem ON lex.doc_id = sem.doc_id
), grid(dd, w) AS (VALUES {_RBO_VALUES_SQL}),
xd AS (
  SELECT g.dd, g.w,
         (SELECT count(*) FROM commons c WHERE c.depth <= g.dd) AS x
  FROM grid g
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM commons) AS n_common,
       round(CAST(sum(CAST(x / CAST(dd AS DOUBLE) * w
                           AS DECIMAL(38,18))) AS DOUBLE), 6) AS rbo
FROM xd
""",
    tags=("llmops", "retrieval", "stats"),
    notes="Rank-biased overlap (Webber et al. 2010, truncated p=0.9, "
    "k=50) between the BM25 lexical ranking and the cosine semantic "
    "ranking for query vec 0 — the retrieval-agreement diagnostic that "
    "says whether hybrid fusion is worth running (RBO ≈ 1 ⇒ rankers "
    "agree, fusion adds nothing; ≈ 0 ⇒ complementary). Depth weights "
    "(1-p)p^(d-1) are generated once and inlined as identical literals "
    "in both engines (Math.pow vs libm pow can differ in the last bit); "
    "the depth sum is DECIMAL(38,18) fixed-point.",
)
def rbo_lexical_vs_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    emb = load_table(spark, "embeddings", sf_dir)
    lex = (
        textstats.bm25_scores(docs, ["spark", "window", "merge"])
        .filter(F.col("bm25") > 0)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_RBO_K)
        .withColumn(
            "r1",
            F.row_number().over(
                Window.orderBy(F.col("bm25").desc(), "doc_id")
            ),
        )
        .select("doc_id", "r1")
    )
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), "embedding"
    )
    sem = similarity.cosine_topk(emb, qv, k=_RBO_K).select(
        F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("r2")
    )
    commons = lex.join(sem, "doc_id").select(
        "doc_id", F.greatest("r1", "r2").alias("depth")
    )
    grid = spark.createDataFrame(_RBO_WEIGHTS, "dd int, w double")
    xd = (
        F.broadcast(grid)
        .join(commons, F.col("depth") <= F.col("dd"), "left")
        .groupBy("dd", "w")
        .agg(F.count("doc_id").alias("x"))
    )
    n_common = commons.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_common")
    )
    rbo = xd.agg(
        F.round(
            F.sum(
                (
                    F.col("x") / F.col("dd").cast("double") * F.col("w")
                ).cast("decimal(38,18)")
            ).cast("double"),
            6,
        ).alias("rbo")
    )
    return n_common.crossJoin(rbo)


@register(
    "weighted_priority_sample",
    oracle="""
WITH keyed AS (
  SELECT doc_id, lang, source, n_chars,
         round(-ln((CAST(('0x' || substr(md5('wps-v1' || '|' ||
                        CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1.0)
                   / (CAST(power(16, 15) AS DOUBLE) + 1.0))
               / CAST(n_chars AS DOUBLE), 10) AS priority
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, lang, source, n_chars, priority
FROM keyed ORDER BY priority, doc_id LIMIT 25
""",
    tags=("llmops", "sampling"),
    notes="Efraimidis-Spirakis weighted priority sampling "
    "(operators/sampling.weighted_priority_sample): 25 docs drawn "
    "∝ n_chars via key = −ln(u)/w with a deterministic md5 uniform — "
    "one-pass, merge-friendly weighted sampling with NO corpus shuffle "
    "(TakeOrderedAndProject) and no RNG; the identical formula replays "
    "in DuckDB. The doc-length-weighted subset draw used for eval-set "
    "construction and data ablations.",
)
def weighted_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import weighted_priority_sample as wps

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", "lang", "source", "n_chars"
    )
    return wps(docs, "n_chars", k=25)


_INJ = textstats.INJECTION_PATTERNS

@register(
    "text_injection_scan",
    oracle=f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_INJ["override"]}')) AS INT)
         AS n_override,
       CAST(len(regexp_extract_all(text, '{_INJ["hijack"]}')) AS INT)
         AS n_hijack,
       CAST(len(regexp_extract_all(text, '{_INJ["system_leak"]}')) AS INT)
         AS n_system_leak,
       CAST(len(regexp_extract_all(text, '{_INJ["exfil"]}')) AS INT)
         AS n_exfil,
       (len(regexp_extract_all(text, '{_INJ["override"]}'))
        + len(regexp_extract_all(text, '{_INJ["hijack"]}'))
        + len(regexp_extract_all(text, '{_INJ["system_leak"]}'))
        + len(regexp_extract_all(text, '{_INJ["exfil"]}'))) > 0
         AS has_injection
FROM documents ORDER BY doc_id
""",
    tags=("llmops", "text", "quality"),
    notes="Prompt-injection-bait scan (operators/textstats.injection_scan) "
    "— data-poisoning hygiene before instruction training: instruction-"
    "override, role-hijack, system-prompt-leak, and exfil-directive "
    "pattern counts per document. Same Java∩RE2 codegen regexp shape as "
    "the secret scan; zero shuffle.",
)
def text_injection_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return textstats.injection_scan(docs).orderBy("doc_id")


@register(
    "text_instruction_format",
    oracle=r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text,
         '(?im)^\s*(q|a|question|answer)\s*[:.]')) AS INT) AS n_qa_markers,
       CAST(len(regexp_extract_all(text,
         '(?i)<\|?(system|user|assistant|human|bot)\|?>|(?im)^\s*(system|user|assistant)\s*:'))
         AS INT) AS n_role_tags,
       CAST(len(regexp_extract_all(text,
         '(?im)^\s*(step\s+)?[0-9]+[.)]\s')) AS INT) AS n_numbered_steps,
       (len(regexp_extract_all(text,
          '(?im)^\s*(q|a|question|answer)\s*[:.]'))
        + len(regexp_extract_all(text,
          '(?i)<\|?(system|user|assistant|human|bot)\|?>|(?im)^\s*(system|user|assistant)\s*:'))
       ) > 0 AS is_instruction_like
FROM documents ORDER BY doc_id
""",
    tags=("llmops", "text", "stats"),
    notes="Instruction/chat-format detection "
    "(operators/textstats.instruction_format_stats): Q:/A: markers, "
    "chat-template role tags, numbered-step lines — the composition "
    "signal for routing feeds between SFT and pretraining mixes. "
    "Codegen regexp only, zero shuffle.",
)
def text_instruction_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return textstats.instruction_format_stats(docs).orderBy("doc_id")


@register(
    "dedup_ngram_containment",
    oracle="""
WITH docs AS (
  SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS words FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(words) - 2),
             i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
           AS shingles
  FROM docs WHERE len(words) >= 3
), sizes AS (
  SELECT doc_id, len(shingles) AS n_sh FROM sh
), inv_all AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh
), keep AS (
  SELECT shingle FROM inv_all GROUP BY shingle HAVING count(*) <= 1000
), inv AS (
  SELECT i.doc_id, i.shingle FROM inv_all i JOIN keep USING (shingle)
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
  FROM inv a JOIN inv b USING (shingle)
  WHERE a.doc_id <> b.doc_id
  GROUP BY 1, 2
), scored AS (
  SELECT id_a, id_b,
         round(shared / CAST(na.n_sh AS DOUBLE), 6) AS containment
  FROM pairs JOIN sizes na ON na.doc_id = pairs.id_a
)
SELECT * FROM scored WHERE containment >= 0.8 ORDER BY id_a, id_b
""",
    tags=("llmops", "dedup"),
    notes="Asymmetric 3-gram containment ≥ 0.8 "
    "(operators/dedup.ngram_containment_pairs): |A∩B|/|A| per ORDERED "
    "pair — the subset-document detector (quoted replies, "
    "concatenations, boilerplate-wrapped reposts) that symmetric "
    "Jaccard misses because the union dominates. Same capped "
    "inverted-index join as the Jaccard path.",
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return dedup.ngram_containment_pairs(
        docs, k=3, threshold=0.8, max_bucket=1000
    )


@register(
    "multimodal_au_ulaw",
    oracle="""
WITH codes AS (
  SELECT doc_id, list_transform(generate_series(0, 7),
      i -> (doc_id * 7 + i * 11) % 256) AS cs
  FROM documents
), dec AS (
  SELECT doc_id,
         list_transform(cs, c ->
           CASE WHEN (255 - c) >= 128
                THEN -((((((255 - c) % 16) * 8) + 132)
                        * CAST(power(2, ((255 - c) // 16) % 8) AS BIGINT))
                       - 132)
                ELSE ((((((255 - c) % 16) * 8) + 132)
                       * CAST(power(2, ((255 - c) // 16) % 8) AS BIGINT))
                      - 132) END) AS smp
  FROM codes
)
SELECT doc_id AS media_id,
       CAST(8000 AS INT) AS sample_rate, CAST(1 AS INT) AS channels,
       CAST(8 AS BIGINT) AS n_samples,
       round(list_sum(list_transform(smp, x -> abs(CAST(x AS DOUBLE))))
             / 8.0, 6) AS mean_abs,
       round(sqrt(list_sum(list_transform(smp,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) / 8.0), 6)
         AS rms,
       CAST(list_max(list_transform(smp, x -> abs(x))) AS INT) AS peak
FROM dec ORDER BY media_id
""",
    tags=("llmops", "multimodal"),
    notes="REAL G.711 µ-law decode of Sun AU payloads "
    "(operators/multimodal.decode_au_samples): 8 µ-law code bytes from "
    "doc_id arithmetic packed into big-endian .snd containers with JVM "
    "expressions, expanded by the exact closed-form "
    "t=((mant<<3)+0x84)<<exp integer formula — the one audio codec "
    "whose DECODE (not just container walk) replays sample-for-sample "
    "in the DuckDB oracle. Hand-checked against the G.711 extremes "
    "(0x00→−32124, 0xFF→0).",
)
def multimodal_au_ulaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)

    def be(col, n_bytes):  # n-byte big-endian binary of an int expression
        return F.unhex(F.lpad(F.hex(col.cast("bigint")), n_bytes * 2, "0"))

    parts = [
        F.encode(F.lit(".snd"), "utf-8"),
        be(F.lit(24), 4), be(F.lit(8), 4), be(F.lit(1), 4),
        be(F.lit(8000), 4), be(F.lit(1), 4),
    ]
    for i in range(8):
        parts.append(be((F.col("doc_id") * 7 + i * 11) % 256, 1))
    media = docs.select(
        F.col("doc_id").alias("media_id"), F.concat(*parts).alias("payload")
    )
    out = multimodal.decode_au_samples(media)
    return out.select(
        "media_id", "sample_rate", "channels", "n_samples",
        F.round("mean_abs", 6).alias("mean_abs"),
        F.round("rms", 6).alias("rms"),
        "peak",
    ).orderBy("media_id")


@register(
    "pipeline_hygiene_route",
    oracle=f"""
WITH scans AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{{pem}}'))
         + len(regexp_extract_all(text, '{{key_id}}'))
         + len(regexp_extract_all(text, '{{hex40}}'))
         + len(regexp_extract_all(text, '{{bearer}}'))
         + len(regexp_extract_all(text, '{{cred}}'))
         + len(regexp_extract_all(text, '{{url}}')) AS n_secrets,
         len(regexp_extract_all(text, '{{override}}'))
         + len(regexp_extract_all(text, '{{hijack}}'))
         + len(regexp_extract_all(text, '{{leak}}'))
         + len(regexp_extract_all(text, '{{exfil}}')) AS n_injection,
         len(regexp_extract_all(text, '{{repl}}'))
         + len(regexp_extract_all(text, '{{ctrl}}'))
         + len(regexp_extract_all(text, '{{moji}}')) AS n_damage,
         len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS n_words
  FROM documents
), routed AS (
  SELECT doc_id,
         CASE WHEN n_injection > 0 THEN 'drop'
              WHEN n_secrets > 0 THEN 'redact'
              WHEN n_damage > 0 THEN 'quarantine'
              WHEN n_words < 5 THEN 'too_short'
              ELSE 'clean' END AS route
  FROM scans
)
SELECT route, count(*) AS n_docs
FROM routed GROUP BY route ORDER BY route
""".format(
        pem=textstats.SECRET_PATTERNS["pem"],
        key_id=textstats.SECRET_PATTERNS["key_id"],
        hex40=textstats.SECRET_PATTERNS["hex40"],
        bearer=textstats.SECRET_PATTERNS["bearer"],
        cred=textstats.SECRET_PATTERNS["cred_assign"],
        url=textstats.SECRET_PATTERNS["url_creds"],
        override=textstats.INJECTION_PATTERNS["override"],
        hijack=textstats.INJECTION_PATTERNS["hijack"],
        leak=textstats.INJECTION_PATTERNS["system_leak"],
        exfil=textstats.INJECTION_PATTERNS["exfil"],
        repl=textstats.MOJIBAKE_PATTERNS["replacement"],
        ctrl=textstats.MOJIBAKE_PATTERNS["control"],
        moji=textstats.MOJIBAKE_PATTERNS["mojibake"],
    ),
    tags=("llmops", "curation", "quality"),
    notes="Hygiene routing policy: every document assigned ONE action by "
    "priority — drop (injection bait) → redact (secrets) → quarantine "
    "(encoding damage) → too_short → clean — composing the three scan "
    "operators into the decision table a curation pipeline executes. "
    "All scans ride a single codegen pass over the same projection; one "
    "tiny route aggregate.",
)
def pipeline_hygiene_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    # CHAIN the scans with append=True: all three flag families are
    # narrow regex projections over the same text column, so one frame
    # carries them in a single codegen pass — the r9 review found the
    # previous shape joined three corpus-sized scan frames on doc_id
    # (three shuffle exchanges of pure waste at corpus scale; the notes
    # already promised the single-pass plan this now actually is)
    scanned = textstats.mojibake_scan(
        textstats.injection_scan(
            textstats.secret_scan(docs, append=True), append=True
        ),
        append=True,
    ).select(
        "has_secret",
        "has_injection",
        "is_damaged",
        F.size(F.array_remove(F.split(F.col("text"), r"\s+"), "")).alias(
            "n_words"
        ),
    )
    route = (
        F.when(F.col("has_injection"), F.lit("drop"))
        .when(F.col("has_secret"), F.lit("redact"))
        .when(F.col("is_damaged"), F.lit("quarantine"))
        .when(F.col("n_words") < 5, F.lit("too_short"))
        .otherwise(F.lit("clean"))
    )
    return (
        scanned.select(route.alias("route"))
        .groupBy("route")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("route")
    )


@register(
    "lang_id_confusion",
    oracle=f"""
WITH pred AS ({_duck_lang_ngram_id_sql().replace("ORDER BY a.doc_id", "")}),
joined AS (
  SELECT d.lang AS lang_true, p.lang_pred
  FROM documents d JOIN pred p ON d.doc_id = p.doc_id
)
SELECT lang_true, lang_pred, count(*) AS n_docs,
       round(count(*) / CAST(sum(count(*)) OVER (PARTITION BY lang_true)
                             AS DOUBLE), 6) AS frac_of_true
FROM joined GROUP BY lang_true, lang_pred
ORDER BY lang_true, lang_pred
""",
    tags=("llmops", "text", "stats"),
    notes="Lang-ID confusion matrix: the default (char-n-gram since r13) "
    "classifier's predictions crossed against the fixture's TRUE lang "
    "labels, with per-true-class fractions (recall diagonal) — the "
    "classifier-evaluation pattern every routing heuristic needs before "
    "it gates a corpus. One label-keyed join + one tiny (langs²) "
    "aggregate; the per-class fraction window runs over the langs² "
    "aggregate, not the corpus. Fixture property (measured r12): the "
    "synthetic documents table draws its text from ONE shared vocabulary "
    "regardless of the lang label (per-lang token stats "
    "indistinguishable), so the diagonal here is the label base rate by "
    "construction — NOT a classifier defect; real-language evaluation "
    "lives in the planted-truth pytest and the r13 A/B table in "
    "BASELINE.md (macro-F1 0.894 char_ngram vs 0.568 stopword).",
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, "documents", sf_dir)
    pred = textstats.lang_id(docs, key_col="doc_id").select("doc_id", "lang_pred")
    joined = docs.select(
        "doc_id", F.col("lang").alias("lang_true")
    ).join(pred, "doc_id")
    agg = joined.groupBy("lang_true", "lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.partitionBy("lang_true")
    return agg.select(
        "lang_true",
        "lang_pred",
        "n_docs",
        F.round(
            F.col("n_docs") / F.sum("n_docs").over(w).cast("double"), 6
        ).alias("frac_of_true"),
    ).orderBy("lang_true", "lang_pred")


register_sql(
    "curriculum_length_schedule",
    spark_sql="""
WITH q AS (
  SELECT doc_id, size(array_remove(split(text, '\\\\s+'), '')) AS n_tokens FROM documents
), bounds AS (
  SELECT
    percentile_disc(0.25) WITHIN GROUP (ORDER BY n_tokens) AS b1,
    percentile_disc(0.5)  WITHIN GROUP (ORDER BY n_tokens) AS b2,
    percentile_disc(0.75) WITHIN GROUP (ORDER BY n_tokens) AS b3
  FROM q
), banded AS (
  SELECT q.doc_id, q.n_tokens,
         1 + CASE WHEN q.n_tokens > b.b1 THEN 1 ELSE 0 END
           + CASE WHEN q.n_tokens > b.b2 THEN 1 ELSE 0 END
           + CASE WHEN q.n_tokens > b.b3 THEN 1 ELSE 0 END AS band
  FROM q CROSS JOIN bounds b
), per AS (
  SELECT band, count(*) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens
  FROM banded GROUP BY band
)
SELECT band, n_docs, n_tokens,
       CAST(sum(n_tokens) OVER (ORDER BY band
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_tokens
FROM per ORDER BY band
""",
    duck_sql="""
WITH q AS (
  SELECT doc_id, len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS n_tokens
  FROM documents
), bounds AS (
  SELECT quantile_disc(n_tokens, 0.25) AS b1,
         quantile_disc(n_tokens, 0.5) AS b2,
         quantile_disc(n_tokens, 0.75) AS b3
  FROM q
), banded AS (
  SELECT q.doc_id, q.n_tokens,
         1 + CASE WHEN q.n_tokens > b.b1 THEN 1 ELSE 0 END
           + CASE WHEN q.n_tokens > b.b2 THEN 1 ELSE 0 END
           + CASE WHEN q.n_tokens > b.b3 THEN 1 ELSE 0 END AS band
  FROM q CROSS JOIN bounds b
), per AS (
  SELECT band, count(*) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS n_tokens
  FROM banded GROUP BY band
)
SELECT band, n_docs, n_tokens,
       CAST(sum(n_tokens) OVER (ORDER BY band
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_tokens
FROM per ORDER BY band
""",
    tags=("llmops", "curation", "sampling"),
    notes="Short-to-long length-curriculum schedule: documents banded "
    "into length quartiles by EXACT discrete percentile thresholds (one "
    "ObjectHashAggregate pass, thresholds broadcast back, CASE "
    "assignment — no global-order ntile window over the corpus), with "
    "per-band doc/token totals and the cumulative token schedule the "
    "curriculum consumes in band order. (A quality-scored variant is "
    "the same plan with the score substituted; the fixture corpus is "
    "punctuation-free, so its quality signal is constant and length is "
    "the honest banding column.)",
)


@register(
    "multimodal_au_alaw",
    oracle="""
WITH codes AS (
  SELECT doc_id, list_transform(generate_series(0, 7),
      i -> (doc_id * 13 + i * 7) % 256) AS cs
  FROM documents
), dec AS (
  SELECT doc_id,
         list_transform(cs, c ->
           CASE WHEN c >= 128 THEN 1 ELSE -1 END *
           CASE WHEN ((xor(c, 85) // 16) % 8) = 0
                THEN (xor(c, 85) % 16) * 16 + 8
                ELSE ((xor(c, 85) % 16) * 16 + 264)
                     * CAST(power(2, greatest((xor(c, 85) // 16) % 8 - 1,
                                              0)) AS BIGINT) END) AS smp
  FROM codes
)
SELECT doc_id AS media_id,
       CAST(8000 AS INT) AS sample_rate, CAST(1 AS INT) AS channels,
       CAST(8 AS BIGINT) AS n_samples,
       round(list_sum(list_transform(smp, x -> abs(CAST(x AS DOUBLE))))
             / 8.0, 6) AS mean_abs,
       round(sqrt(list_sum(list_transform(smp,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) / 8.0), 6)
         AS rms,
       CAST(list_max(list_transform(smp, x -> abs(x))) AS INT) AS peak
FROM dec ORDER BY media_id
""",
    tags=("llmops", "multimodal"),
    notes="REAL G.711 A-law decode (operators/multimodal."
    "decode_au_samples, AU encoding 27): xor-0x55 + segment shift "
    "closed form, sample-for-sample replayed by the oracle — completing "
    "the G.711 codec pair with µ-law. Hand-checked extremes "
    "(0xAA→+32256, 0x55→−8).",
)
def multimodal_au_alaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)

    def be(col, n_bytes):
        return F.unhex(F.lpad(F.hex(col.cast("bigint")), n_bytes * 2, "0"))

    parts = [
        F.encode(F.lit(".snd"), "utf-8"),
        be(F.lit(24), 4), be(F.lit(8), 4), be(F.lit(27), 4),
        be(F.lit(8000), 4), be(F.lit(1), 4),
    ]
    for i in range(8):
        parts.append(be((F.col("doc_id") * 13 + i * 7) % 256, 1))
    media = docs.select(
        F.col("doc_id").alias("media_id"), F.concat(*parts).alias("payload")
    )
    out = multimodal.decode_au_samples(media)
    return out.select(
        "media_id", "sample_rate", "channels", "n_samples",
        F.round("mean_abs", 6).alias("mean_abs"),
        F.round("rms", 6).alias("rms"),
        "peak",
    ).orderBy("media_id")


@register(
    "embedding_source_drift",
    oracle=f"""
WITH lab AS (
  SELECT e.vec_id, e.embedding, d.source
  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
), pos AS (
  SELECT source, i.i AS p,
         CAST(sum(CAST(embedding[i.i + 1] AS DECIMAL(38,10))) AS DOUBLE)
           / count(*) AS v
  FROM lab, unnest(generate_series(0, len(embedding) - 1)) AS i(i)
  GROUP BY source, i.i
), cents AS (
  SELECT source, list(v ORDER BY p) AS c FROM pos GROUP BY source
), gpos AS (
  SELECT i.i AS p,
         CAST(sum(CAST(embedding[i.i + 1] AS DECIMAL(38,10))) AS DOUBLE)
           / count(*) AS v
  FROM lab, unnest(generate_series(0, len(embedding) - 1)) AS i(i)
  GROUP BY i.i
), g AS (
  SELECT list(v ORDER BY p) AS c FROM gpos
), nv AS (
  SELECT source, count(*) AS n_vecs FROM lab GROUP BY source
)
SELECT cents.source, nv.n_vecs,
       {_duck_cosine('cents.c', 'g.c')} AS cos_to_global
FROM cents JOIN nv ON nv.source = cents.source CROSS JOIN g
ORDER BY cents.source
""",
    tags=("llmops", "similarity", "stats"),
    notes="Embedding-space drift per source: each feed's centroid "
    "(decimal-sum per dimension — order-independent) against the global "
    "corpus centroid by cosine — low values flag a feed whose content "
    "occupies a different region of embedding space (domain shift, "
    "pipeline bug, language drift). Per-(source, dim) aggregates only "
    "(sources × dims rows); centroid arrays assembled in sorted "
    "dimension order on both engines.",
)
def embedding_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import cosine_similarity

    emb = load_table(spark, "embeddings", sf_dir)
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "source")
    lab = emb.join(docs, emb.vec_id == docs.doc_id).select(
        "vec_id", "embedding", "source"
    )
    pe = lab.select(
        "source", F.posexplode("embedding").alias("p", "v")
    )
    cents = (
        pe.groupBy("source", "p")
        .agg(
            (
                F.sum(F.col("v").cast("decimal(38,10)")).cast("double")
                / F.count(F.lit(1))
            ).alias("v")
        )
        .groupBy("source")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "v"))),
                lambda x: x["v"],
            ).alias("c")
        )
    )
    g = (
        pe.groupBy("p")
        .agg(
            (
                F.sum(F.col("v").cast("decimal(38,10)")).cast("double")
                / F.count(F.lit(1))
            ).alias("v")
        )
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "v"))),
                lambda x: x["v"],
            ).alias("gc")
        )
    )
    nv = lab.groupBy("source").agg(F.count(F.lit(1)).alias("n_vecs"))
    return (
        cents.join(nv, "source")
        .crossJoin(F.broadcast(g))
        .select(
            "source",
            "n_vecs",
            F.round(
                cosine_similarity(F.col("c"), F.col("gc")), 6
            ).alias("cos_to_global"),
        )
        .orderBy("source")
    )


register_sql(
    "bigram_freq_of_freqs",
    spark_sql="""
WITH dw AS (
  SELECT array_remove(split(lower(text), '\\\\s+'), '') AS w FROM documents
), bg AS (
  SELECT explode(zip_with(slice(w, 1, greatest(size(w) - 1, 0)),
                          slice(w, 2, greatest(size(w) - 1, 0)),
                          (a, b) -> concat(a, ' ', b))) AS b
  FROM dw
), vocab AS (
  SELECT b, count(*) AS c FROM bg GROUP BY b
), fof AS (
  SELECT CASE WHEN c <= 10 THEN c ELSE 11 END AS freq_band,
         count(*) AS n_types,
         CAST(sum(c) AS BIGINT) AS n_tokens
  FROM vocab GROUP BY CASE WHEN c <= 10 THEN c ELSE 11 END
), tot AS (
  SELECT CAST(sum(n_types) AS BIGINT) AS v,
         CAST(sum(n_tokens) AS BIGINT) AS n
  FROM fof
)
SELECT fof.freq_band, fof.n_types, fof.n_tokens,
       round(fof.n_types / CAST(tot.v AS DOUBLE), 6) AS frac_of_vocab,
       round(fof.n_tokens / CAST(tot.n AS DOUBLE), 6) AS frac_of_corpus
FROM fof CROSS JOIN tot
ORDER BY freq_band
""",
    duck_sql="""
WITH dw AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS w FROM documents
), bg AS (
  SELECT w[CAST(t.i AS INT)] || ' ' || w[CAST(t.i AS INT) + 1] AS b
  FROM dw, unnest(generate_series(1, len(w) - 1)) AS t(i)
), vocab AS (
  SELECT b, count(*) AS c FROM bg GROUP BY b
), fof AS (
  SELECT CASE WHEN c <= 10 THEN c ELSE 11 END AS freq_band,
         count(*) AS n_types,
         CAST(sum(c) AS BIGINT) AS n_tokens
  FROM vocab GROUP BY 1
), tot AS (
  SELECT CAST(sum(n_types) AS BIGINT) AS v,
         CAST(sum(n_tokens) AS BIGINT) AS n
  FROM fof
)
SELECT CAST(fof.freq_band AS BIGINT) AS freq_band, fof.n_types,
       fof.n_tokens,
       round(fof.n_types / CAST(tot.v AS DOUBLE), 6) AS frac_of_vocab,
       round(fof.n_tokens / CAST(tot.n AS DOUBLE), 6) AS frac_of_corpus
FROM fof CROSS JOIN tot
ORDER BY freq_band
""",
    tags=("llmops", "text", "stats"),
    notes="Good-Turing frequency-of-frequencies over BIGRAM types "
    "(k=1..10 bands + 11+ tail) with vocab/corpus shares — N1/N "
    "estimates the unseen-bigram mass for smoothing, and the k=1 row is "
    "the hapax-richness signal. Bigrams are generated WITHIN each row "
    "(slice+zip_with, no positional self-join); two pair-keyed "
    "aggregates with map-side partials; the band rollup is 11 rows. "
    "(Unigram types are degenerate on the fixture's ~31-word "
    "vocabulary; bigrams give the real spectrum.)",
)


@register(
    "dedup_mix_shift_audit",
    oracle=r"""
WITH canon AS (
  SELECT doc_id, lang,
         md5(array_to_string(list_sort(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')),
             ' ')) AS ch
  FROM documents
), keep AS (
  SELECT * FROM (
    SELECT *, doc_id = min(doc_id) OVER (PARTITION BY ch) AS is_keeper
    FROM canon
  ) WHERE is_keeper
), before AS (
  SELECT lang, count(*) AS n FROM canon GROUP BY lang
), after AS (
  SELECT lang, count(*) AS n FROM keep GROUP BY lang
), tb AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM before),
ta AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM after)
SELECT b.lang,
       b.n AS n_before, coalesce(a.n, 0) AS n_after,
       round(b.n / CAST(tb.t AS DOUBLE), 6) AS frac_before,
       round(coalesce(a.n, 0) / CAST(ta.t AS DOUBLE), 6) AS frac_after,
       round(coalesce(a.n, 0) / CAST(ta.t AS DOUBLE)
             - b.n / CAST(tb.t AS DOUBLE), 6) AS frac_delta
FROM before b LEFT JOIN after a ON a.lang = b.lang
CROSS JOIN tb CROSS JOIN ta
ORDER BY b.lang
""",
    tags=("llmops", "dedup", "stats"),
    notes="Dedup survivor-bias audit: language mix before vs after "
    "canonical dedup with the composition delta — dedup silently "
    "reweights a corpus when duplication rates differ by slice (the "
    "languages that syndicate most lose the most mass). One dedup "
    "window + two lang-keyed aggregates; the frac deltas are the "
    "go/no-go signal for rebalancing after dedup.",
)
def dedup_mix_shift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    keepers = dedup.canonical_text_dedup(docs).filter(
        F.col("is_keeper")
    ).select("doc_id")
    before = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_before"))
    after = (
        docs.join(keepers, "doc_id", "left_semi")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_after"))
    )
    tb = before.agg(F.sum("n_before").cast("bigint").alias("tb"))
    ta = after.agg(F.sum("n_after").cast("bigint").alias("ta"))
    fb = F.col("n_before") / F.col("tb").cast("double")
    fa = F.coalesce(F.col("n_after"), F.lit(0)) / F.col("ta").cast("double")
    return (
        before.join(after, "lang", "left")
        .crossJoin(F.broadcast(tb))
        .crossJoin(F.broadcast(ta))
        .select(
            "lang",
            "n_before",
            F.coalesce(F.col("n_after"), F.lit(0).cast("bigint")).alias(
                "n_after"
            ),
            F.round(fb, 6).alias("frac_before"),
            F.round(fa, 6).alias("frac_after"),
            F.round(fa - fb, 6).alias("frac_delta"),
        )
        .orderBy("lang")
    )


register_sql(
    "doc_feature_correlations",
    spark_sql="""
WITH f AS (
  SELECT CAST(size(array_remove(split(text, '\\\\s+'), '')) AS DOUBLE) AS n_tokens,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(size(array_distinct(array_remove(split(lower(text), '\\\\s+'), '')))
              AS DOUBLE) AS n_distinct_words
  FROM documents
)
SELECT round(corr(n_tokens, n_chars), 6) AS corr_tokens_chars,
       round(corr(n_tokens, n_distinct_words), 6) AS corr_tokens_distinct,
       round(corr(n_chars, n_distinct_words), 6) AS corr_chars_distinct,
       count(*) AS n_docs
FROM f
""",
    duck_sql="""
WITH f AS (
  SELECT CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS DOUBLE)
           AS n_tokens,
         CAST(len(text) AS DOUBLE) AS n_chars,
         CAST(len(list_distinct(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> '')))
              AS DOUBLE) AS n_distinct_words
  FROM documents
)
SELECT round(corr(n_tokens, n_chars), 6) AS corr_tokens_chars,
       round(corr(n_tokens, n_distinct_words), 6) AS corr_tokens_distinct,
       round(corr(n_chars, n_distinct_words), 6) AS corr_chars_distinct,
       count(*) AS n_docs
FROM f
""",
    tags=("llmops", "text", "stats"),
    notes="Document feature correlation matrix (tokens × chars × "
    "distinct-words Pearson r) — the feature-redundancy check before "
    "building quality filters on correlated signals (two r≈1 features "
    "add one signal, not two). Single-pass corr aggregates (parity "
    "proven by the stats_corr_regr precedent); all features computed "
    "within-row.",
)


@register(
    "token_mass_gini",
    oracle="""
WITH lens AS (
  SELECT len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS v FROM documents
), grp AS (
  SELECT v, count(*) AS c FROM lens GROUP BY v
), cum AS (
  SELECT v, c,
         coalesce(sum(c) OVER (ORDER BY v
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p_before
  FROM grp
), parts AS (
  SELECT sum(CAST(v AS DECIMAL(38,0))
             * (CAST(c AS DECIMAL(38,0)) * p_before + c * (c + 1) // 2))
           AS s,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(v * c) AS BIGINT) AS m
  FROM cum
)
SELECT n AS n_docs, m AS total_tokens,
       round(2.0 * CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * m)
             - (n + 1) / CAST(n AS DOUBLE), 6) AS gini
FROM parts
""",
    tags=("llmops", "stats", "quality"),
    notes="Token-mass Gini coefficient: inequality of token distribution "
    "across documents (0 = uniform, →1 = a few giants hold the corpus) "
    "— the concentration metric that decides whether doc-level sampling "
    "weights need length correction. Computed EXACTLY from grouped "
    "counts over the DISTINCT length domain (the KS-drift trick): "
    "Σ i·x folded per length value in bigint arithmetic; the exclusive "
    "prefix count comes from operators/cumdist.binned_cumsum (r6), so "
    "even the length-domain window is bucket-partitioned — shiftright "
    "keeps the triangular term in exact integer arithmetic, decimal "
    "prefix minus own count gives p_before exactly.",
)
def token_mass_gini(spark, sf_dir):
    from ..operators.cumdist import binned_cumsum

    docs = load_table(spark, "documents", sf_dir)
    lens = docs.select(F.size(F.array_remove(F.split(F.col("text"), r"\s+"), "")).alias("v"))
    grp = lens.groupBy("v").agg(F.count(F.lit(1)).alias("c"))
    # auto (order_domain_skew probe): picks range on the fixture's
    # near-uniform distinct-length domain (r=2.03 at sf0.1) and flips to
    # quantile exactly when a production corpus's rare-huge-doc tail
    # stretches the range (r > n_buckets/32) — the straggler regime
    cum = binned_cumsum(
        grp, order_col="v", value_col="c", bucket_mode="auto"
    ).select(
        "v",
        "c",
        (F.col("cum_d").cast("bigint") - F.col("c")).alias("p_before"),
    )
    tri = F.shiftright(F.col("c") * (F.col("c") + 1), 1)
    # DECIMAL(38,0): c*p_before reaches n^2 (~1e19 at 3e9 docs) and the
    # v-weighted sum far exceeds int64 at the advertised corpus scale —
    # same overflow class the r8 review fixed in pagerank/hits (r9
    # review found this one still raw). ANSI errors on any residual
    # overflow instead of wrapping.
    parts = cum.agg(
        F.sum(
            F.col("v").cast("decimal(38,0)")
            * (F.col("c").cast("decimal(38,0)") * F.col("p_before") + tri)
        )
        .alias("s"),
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("v").cast("bigint") * F.col("c"))
        .cast("bigint")
        .alias("m"),
    )
    return parts.select(
        F.col("n").alias("n_docs"),
        F.col("m").alias("total_tokens"),
        F.round(
            2.0 * F.col("s").cast("double")
            / (F.col("n").cast("double") * F.col("m"))
            - (F.col("n") + 1) / F.col("n").cast("double"),
            6,
        ).alias("gini"),
    )


register_sql(
    "charset_profile_by_lang",
    spark_sql=r"""
WITH per AS (
  SELECT lang,
         length(text) AS n_chars,
         length(regexp_replace(text, '[^\\x{0020}-\\x{007E}]', ''))
           AS n_ascii,
         length(regexp_replace(text, '[^\\x{00A0}-\\x{024F}]', ''))
           AS n_latin_ext,
         length(regexp_replace(text, '[^\\x{4E00}-\\x{9FFF}]', ''))
           AS n_cjk
  FROM documents
)
SELECT lang,
       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       round(sum(n_ascii) / CAST(sum(n_chars) AS DOUBLE), 6)
         AS frac_ascii,
       round(sum(n_latin_ext) / CAST(sum(n_chars) AS DOUBLE), 6)
         AS frac_latin_ext,
       round(sum(n_cjk) / CAST(sum(n_chars) AS DOUBLE), 6) AS frac_cjk
FROM per GROUP BY lang ORDER BY lang
""",
    duck_sql=r"""
WITH per AS (
  SELECT lang,
         len(text) AS n_chars,
         len(regexp_replace(text, '[^\x{0020}-\x{007E}]', '', 'g'))
           AS n_ascii,
         len(regexp_replace(text, '[^\x{00A0}-\x{024F}]', '', 'g'))
           AS n_latin_ext,
         len(regexp_replace(text, '[^\x{4E00}-\x{9FFF}]', '', 'g'))
           AS n_cjk
  FROM documents
)
SELECT lang,
       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       round(sum(n_ascii) / CAST(sum(n_chars) AS DOUBLE), 6)
         AS frac_ascii,
       round(sum(n_latin_ext) / CAST(sum(n_chars) AS DOUBLE), 6)
         AS frac_latin_ext,
       round(sum(n_cjk) / CAST(sum(n_chars) AS DOUBLE), 6) AS frac_cjk
FROM per GROUP BY lang ORDER BY lang
""",
    tags=("llmops", "text", "stats"),
    notes="Per-language script/charset profile: printable-ASCII, "
    "extended-Latin, and CJK character shares from code-point-class "
    "regex strips (\\x{..} escapes — the Java∩RE2 subset, mojibake-scan "
    "precedent) — the script-consistency check that catches docs "
    "labeled one language but written in another script. Per-row "
    "regex + one lang-keyed aggregate.",
)


register_sql(
    "embedding_coverage_audit",
    sql="""
SELECT
  (SELECT count(*) FROM documents) AS n_docs,
  (SELECT count(*) FROM embeddings) AS n_vecs,
  (SELECT count(*) FROM documents d
   WHERE NOT EXISTS (SELECT 1 FROM embeddings e
                     WHERE e.vec_id = d.doc_id)) AS n_docs_missing_vec,
  (SELECT count(*) FROM embeddings e
   WHERE NOT EXISTS (SELECT 1 FROM documents d
                     WHERE d.doc_id = e.vec_id)) AS n_orphan_vecs,
  (SELECT count(*) FROM embeddings
   WHERE size(embedding) <> 64) AS n_wrong_dim,
  (SELECT count(*) FROM embeddings
   WHERE exists(embedding, x -> isnan(x) OR x IS NULL))
    AS n_with_nan
""",
    duck_sql="""
SELECT
  (SELECT count(*) FROM documents) AS n_docs,
  (SELECT count(*) FROM embeddings) AS n_vecs,
  (SELECT count(*) FROM documents d
   WHERE NOT EXISTS (SELECT 1 FROM embeddings e
                     WHERE e.vec_id = d.doc_id)) AS n_docs_missing_vec,
  (SELECT count(*) FROM embeddings e
   WHERE NOT EXISTS (SELECT 1 FROM documents d
                     WHERE d.doc_id = e.vec_id)) AS n_orphan_vecs,
  (SELECT count(*) FROM embeddings
   WHERE len(embedding) <> 64) AS n_wrong_dim,
  (SELECT count(*) FROM embeddings
   WHERE len(list_filter(embedding, x -> isnan(CAST(x AS DOUBLE))
                                         OR x IS NULL)) > 0)
    AS n_with_nan
""",
    tags=("llmops", "quality", "similarity"),
    notes="Embedding-coverage audit: docs missing vectors, orphan "
    "vectors, wrong-dimension rows, NaN/NULL components — the ML-table "
    "referential-integrity and tensor-hygiene gate run before any "
    "ANN/dedup job trusts the embeddings table. Anti-join probes + "
    "narrow array checks.",
)


@register(
    "embedding_norm_quartiles",
    oracle="""
WITH norms AS (
  SELECT round(sqrt(list_sum(list_transform(embedding,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS nrm
  FROM embeddings
)
SELECT count(*) AS n_vecs,
       round(min(nrm), 6) AS min_norm,
       round(quantile_disc(nrm, 0.25), 6) AS p25_norm,
       round(quantile_disc(nrm, 0.5), 6) AS p50_norm,
       round(quantile_disc(nrm, 0.75), 6) AS p75_norm,
       round(max(nrm), 6) AS max_norm
FROM norms
""",
    tags=("llmops", "similarity", "stats"),
    notes="Embedding L2-norm distribution (discrete quartiles over "
    "6-decimal-rounded norms): the pre-ANN sanity check — a wide or "
    "bimodal norm spread under a dot-product index silently reweights "
    "neighbors, and near-zero norms flag dead encoder outputs. The "
    "norm is the same sequential array fold both engines replay "
    "(cosine-oracle precedent); percentile over the rounded values "
    "keeps the discrete quantile exact.",
)
def embedding_norm_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import vec_norm

    emb = load_table(spark, "embeddings", sf_dir)
    norms = emb.select(F.round(vec_norm(F.col("embedding")), 6).alias("nrm"))
    return norms.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.min("nrm"), 6).alias("min_norm"),
        F.round(
            F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY nrm)"), 6
        ).alias("p25_norm"),
        F.round(
            F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY nrm)"), 6
        ).alias("p50_norm"),
        F.round(
            F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY nrm)"), 6
        ).alias("p75_norm"),
        F.round(F.max("nrm"), 6).alias("max_norm"),
    )


@register(
    "dedup_rate_by_source",
    oracle=r"""
WITH canon AS (
  SELECT doc_id, source,
         md5(array_to_string(list_sort(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')),
             ' ')) AS ch
  FROM documents
), keep AS (
  SELECT * FROM (
    SELECT *, doc_id = min(doc_id) OVER (PARTITION BY ch) AS is_keeper
    FROM canon
  ) WHERE is_keeper
)
SELECT c.source,
       count(*) AS n_docs,
       count(*) - coalesce(k.n, 0) AS n_dropped,
       round((count(*) - coalesce(k.n, 0)) / CAST(count(*) AS DOUBLE), 6)
         AS dup_rate
FROM canon c
LEFT JOIN (SELECT source, count(*) AS n FROM keep GROUP BY source) k
  ON k.source = c.source
GROUP BY c.source, k.n
ORDER BY c.source
""",
    tags=("llmops", "dedup", "stats"),
    notes="Per-source exact-duplicate rate: docs dropped by canonical "
    "dedup as a fraction of each feed — the feed-level drill-down of "
    "dataset_card's single corpus dup-rate number (a feed at 40% dup "
    "rate is a mirror; at 0.1% it's organic). One dedup window + one "
    "source aggregate.",
)
def dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    keepers = dedup.canonical_text_dedup(docs).filter(
        F.col("is_keeper")
    ).select("doc_id")
    total = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    kept = (
        docs.join(keepers, "doc_id", "left_semi")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        total.join(kept, "source", "left")
        .select(
            "source",
            "n_docs",
            (
                F.col("n_docs")
                - F.coalesce(F.col("n_kept"), F.lit(0))
            ).cast("bigint").alias("n_dropped"),
            F.round(
                (F.col("n_docs") - F.coalesce(F.col("n_kept"), F.lit(0)))
                / F.col("n_docs").cast("double"),
                6,
            ).alias("dup_rate"),
        )
        .orderBy("source")
    )


#: Spark SQL string literals consume one level of backslash escaping
#: (so '\\s' in the SQL text reaches the regex engine as \s); DuckDB
#: literals keep backslashes verbatim. Same pattern, per-dialect quoting.
_PAT_SPARK = textstats.TOKEN_PATTERN.replace("\\", "\\\\")
_TOKS_SPARK = (
    "SELECT source, token FROM documents "
    "LATERAL VIEW explode(regexp_extract_all(lower(text), "
    f"'{_PAT_SPARK}', 0)) t AS token"
)
_TOKS_DUCK = (
    "SELECT source, unnest(regexp_extract_all(lower(text), "
    f"'{textstats.TOKEN_PATTERN}')) AS token FROM documents"
)

_JSD_BODY = """
top AS (
  SELECT token FROM toks GROUP BY token
  ORDER BY count(*) DESC, token LIMIT 512
), tc AS (
  SELECT source, token, count(*) AS c FROM toks
  WHERE token IN (SELECT token FROM top)
  GROUP BY source, token
), tot AS (SELECT source, sum(c) AS n FROM tc GROUP BY source),
d AS (
  SELECT tc.source, tc.token, tc.c / CAST(tot.n AS DOUBLE) AS p
  FROM tc JOIN tot ON tot.source = tc.source
), srcs AS (SELECT DISTINCT source FROM d),
pairs AS (
  SELECT a.source AS sa, b.source AS sb
  FROM srcs a JOIN srcs b ON a.source < b.source
), u AS (
  SELECT DISTINCT pairs.sa, pairs.sb, d.token
  FROM pairs JOIN d ON d.source = pairs.sa OR d.source = pairs.sb
), m AS (
  SELECT u.sa, u.sb,
         coalesce(da.p, CAST(0.0 AS DOUBLE)) AS pa,
         coalesce(db.p, CAST(0.0 AS DOUBLE)) AS pb
  FROM u
  LEFT JOIN d da ON da.source = u.sa AND da.token = u.token
  LEFT JOIN d db ON db.source = u.sb AND db.token = u.token
)
SELECT sa, sb,
       round(CAST(sum(CAST(
           0.5 * (CASE WHEN pa > 0 THEN pa * ln(2.0 * pa / (pa + pb))
                       ELSE CAST(0.0 AS DOUBLE) END
                + CASE WHEN pb > 0 THEN pb * ln(2.0 * pb / (pa + pb))
                       ELSE CAST(0.0 AS DOUBLE) END)
           AS DECIMAL(38,10))) AS DOUBLE) / ln(2.0), 6) AS jsd_bits
FROM m GROUP BY sa, sb
ORDER BY jsd_bits DESC, sa, sb
LIMIT 20
"""

register_sql(
    "js_divergence_sources",
    spark_sql=f"WITH toks AS ({_TOKS_SPARK}),{_JSD_BODY}",
    duck_sql=f"WITH toks AS ({_TOKS_DUCK}),{_JSD_BODY}",
    tags=("llmops", "text", "stats"),
    notes="Pairwise Jensen-Shannon divergence (bits) between source token "
    "distributions, restricted-renormalized to the deterministic global "
    "top-512 vocabulary so the pair×vocab working set is bounded "
    "(pairs × 512, never pairs × open vocabulary — the 100 TB posture; "
    "widen the cap, not the shape). Symmetric, bounded [0,1] bit — the "
    "source-mixture similarity matrix behind mixture reweighting, "
    "complementing source_drift_chi2's one-vs-corpus test. Per-term "
    "doubles, decimal term sum, top-20 most-divergent pairs.",
)


register_sql(
    "hapax_rate_by_source",
    spark_sql=f"""
WITH toks AS ({_TOKS_SPARK}),
tc AS (SELECT source, token, count(*) AS c FROM toks GROUP BY source, token)
SELECT source, count(*) AS vocab,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS hapax_frac
FROM tc GROUP BY source ORDER BY source
""",
    duck_sql=f"""
WITH toks AS ({_TOKS_DUCK}),
tc AS (SELECT source, token, count(*) AS c FROM toks GROUP BY source, token)
SELECT source, count(*) AS vocab,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS hapax_frac
FROM tc GROUP BY source ORDER BY source
""",
    tags=("llmops", "text", "stats"),
    notes="Hapax legomenon rate per source: vocabulary size, once-only "
    "token count, and their ratio — the vocabulary-health signal that "
    "separates organic text (hapax-heavy, Zipf tail) from templated or "
    "machine-generated corpora (hapax-poor). One (source, token) hash "
    "agg then a source-level rollup; pairs with vocab_growth_curve's "
    "Heaps-law checkpoints.",
)


register_sql(
    "text_ttr_by_doc",
    spark_sql=f"""
SELECT doc_id,
       size(regexp_extract_all(lower(text), '{_PAT_SPARK}', 0))
         AS n_tokens,
       size(array_distinct(
           regexp_extract_all(lower(text), '{_PAT_SPARK}', 0)))
         AS n_types,
       round(size(array_distinct(
               regexp_extract_all(lower(text),
                                  '{_PAT_SPARK}', 0)))
             / nullif(CAST(size(regexp_extract_all(
                 lower(text), '{_PAT_SPARK}', 0)) AS DOUBLE),
                 0.0), 6) AS ttr
FROM documents ORDER BY doc_id
""",
    duck_sql=f"""
SELECT doc_id,
       len(regexp_extract_all(lower(text), '{textstats.TOKEN_PATTERN}'))
         AS n_tokens,
       len(list_distinct(
           regexp_extract_all(lower(text), '{textstats.TOKEN_PATTERN}')))
         AS n_types,
       round(len(list_distinct(regexp_extract_all(
               lower(text), '{textstats.TOKEN_PATTERN}')))
             / nullif(CAST(len(regexp_extract_all(
                 lower(text), '{textstats.TOKEN_PATTERN}')) AS DOUBLE),
                 0.0), 6) AS ttr
FROM documents ORDER BY doc_id
""",
    tags=("llmops", "text", "quality"),
    notes="Type-token ratio per document: within-row tokenize + "
    "array_distinct, zero shuffle — the lexical-diversity quality "
    "signal (low TTR = repetitive/boilerplate text) next to "
    "text_repetition's n-gram repeat fractions. Empty docs → NULL.",
)


register_sql(
    "text_template_prefixes",
    spark_sql="""
SELECT substring(regexp_replace(lower(text), '\\\\s+', ' '), 1, 40)
         AS prefix,
       count(*) AS n_docs,
       count(DISTINCT source) AS n_sources,
       min(doc_id) AS example_doc
FROM documents
GROUP BY substring(regexp_replace(lower(text), '\\\\s+', ' '), 1, 40)
HAVING count(*) >= 3
ORDER BY n_docs DESC, prefix
LIMIT 25
""",
    duck_sql="""
SELECT substring(regexp_replace(lower(text), '\\s+', ' ', 'g'), 1, 40)
         AS prefix,
       count(*) AS n_docs,
       count(DISTINCT source) AS n_sources,
       min(doc_id) AS example_doc
FROM documents
GROUP BY substring(regexp_replace(lower(text), '\\s+', ' ', 'g'), 1, 40)
HAVING count(*) >= 3
ORDER BY n_docs DESC, prefix
LIMIT 25
""",
    tags=("llmops", "text", "dedup"),
    notes="Template/boilerplate prefix census: whitespace-normalized "
    "lowercased 40-char document prefixes with ≥3 occurrences, plus how "
    "many sources share each — the cheap first-pass boilerplate detector "
    "before shared-substring dedup (a prefix shared across sources is a "
    "scraper template, not duplication of content). One hash agg on a "
    "derived 40-byte key.",
)


register_sql(
    "text_script_mix",
    spark_sql="""
SELECT doc_id,
       regexp_count(text, '[A-Za-z]') AS n_latin,
       regexp_count(text, '[0-9]') AS n_digit,
       regexp_count(text, '[^\\\\t\\\\n\\\\r -~]') AS n_nonascii,
       round(regexp_count(text, '[^\\\\t\\\\n\\\\r -~]')
             / nullif(CAST(length(text) AS DOUBLE), 0.0), 6)
         AS nonascii_frac,
       (regexp_count(text, '[^\\\\t\\\\n\\\\r -~]') > 0
        AND regexp_count(text, '[A-Za-z]') > 0) AS is_mixed_script
FROM documents ORDER BY doc_id
""",
    duck_sql="""
SELECT doc_id,
       len(regexp_extract_all(text, '[A-Za-z]')) AS n_latin,
       len(regexp_extract_all(text, '[0-9]')) AS n_digit,
       len(regexp_extract_all(text, '[^\\t\\n\\r -~]')) AS n_nonascii,
       round(len(regexp_extract_all(text, '[^\\t\\n\\r -~]'))
             / nullif(CAST(length(text) AS DOUBLE), 0.0), 6)
         AS nonascii_frac,
       (len(regexp_extract_all(text, '[^\\t\\n\\r -~]')) > 0
        AND len(regexp_extract_all(text, '[A-Za-z]')) > 0)
         AS is_mixed_script
FROM documents ORDER BY doc_id
""",
    tags=("llmops", "text", "quality"),
    notes="Script-composition profile per document: Latin / digit / "
    "non-printable-ASCII codepoint counts and the mixed-script flag — "
    "the homoglyph-spoofing and wrong-language-leak signal that "
    "charset_profile_by_lang aggregates but cannot attribute to single "
    "documents. Pure codegen regexp_count riding the scan (Java∩RE2 "
    "character classes only), zero shuffle.",
)


@register(
    "text_compression_ratio",
    oracle=None,  # no SQL zlib; tools/check_oracle.py invariant recomputes
    # the exact stdlib-zlib bytes per document in Python and requires
    # equality on every row (deterministic: input + level fully determine
    # DEFLATE output), plus ratio sanity bounds.
    tags=("llmops", "text", "quality"),
    notes="Per-document zlib compressibility "
    "(operators/textstats.compression_ratio, level 6): raw/compressed "
    "byte counts and their ratio — the language-agnostic redundancy "
    "signal large-corpus curation uses alongside token heuristics "
    "(boilerplate compresses hard, organic prose ~0.3-0.5, random text "
    "→1). Arrow-batched mapInPandas, one pass, no shuffle; stdlib zlib "
    "at a fixed level is bit-deterministic so the invariant gate checks "
    "exact equality, not bands.",
)
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, "documents", sf_dir)
    return textstats.compression_ratio(docs).orderBy("doc_id")


_NSP_BODY = """
tc AS (
  SELECT token, count(*) AS c FROM toks GROUP BY token
  ORDER BY count(*) DESC, token LIMIT 64
), w AS (
  SELECT token, c, pow(CAST(c AS DOUBLE), 0.75) AS wt FROM tc
), tot AS (
  SELECT CAST(sum(CAST(wt AS DECIMAL(38,10))) AS DOUBLE) AS t FROM w
), cum AS (
  SELECT token, c, wt,
         CAST(sum(CAST(wt AS DECIMAL(38,10))) OVER (
              ORDER BY c DESC, token
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS DOUBLE) AS cw
  FROM w
)
SELECT cum.token, cum.c,
       round(cum.wt, 6) AS weight,
       round(cum.wt / tot.t, 8) AS prob,
       round((cum.cw - cum.wt) / tot.t, 8) + 0.0 AS cum_lo,
       round(cum.cw / tot.t, 8) AS cum_hi
FROM cum CROSS JOIN tot
ORDER BY cum.c DESC, cum.token
"""

register_sql(
    "negative_sampling_plan",
    spark_sql=f"WITH toks AS ({_TOKS_SPARK}),{_NSP_BODY}",
    duck_sql=f"WITH toks AS ({_TOKS_DUCK}),{_NSP_BODY}",
    tags=("llmops", "text", "sampling"),
    notes="word2vec-style negative-sampling table: top-64 tokens weighted "
    "count^0.75 (the canonical unigram smoothing that up-weights the "
    "tail), normalized probabilities and half-open cumulative ranges "
    "[cum_lo, cum_hi) so a uniform draw maps to a token by range lookup "
    "— the precomputed sampling plan a contrastive-training pipeline "
    "broadcasts to workers. Decimal cumulative sum in (count desc, "
    "token) order → deterministic ranges; the +0.0 folds the first row's "
    "IEEE −0.0 lo-subtraction to +0.0 on both engines; pow on integer "
    "counts is the "
    "same libm call shape both engines (verified exact by this oracle).",
)


@register(
    "embedding_int8_quant_error",
    oracle="""
WITH q AS (
  SELECT label,
         list_max(list_transform(embedding,
             x -> abs(CAST(x AS DOUBLE)))) AS amax,
         embedding
  FROM embeddings
), e AS (
  SELECT label,
         sqrt(list_sum(list_transform(embedding, x ->
             (CAST(x AS DOUBLE)
              - (CASE WHEN CAST(x AS DOUBLE) * (127.0 / amax) >= 0
                      THEN floor(CAST(x AS DOUBLE) * (127.0 / amax) + 0.5)
                      ELSE ceil(CAST(x AS DOUBLE) * (127.0 / amax) - 0.5)
                 END) / (127.0 / amax))
             * (CAST(x AS DOUBLE)
              - (CASE WHEN CAST(x AS DOUBLE) * (127.0 / amax) >= 0
                      THEN floor(CAST(x AS DOUBLE) * (127.0 / amax) + 0.5)
                      ELSE ceil(CAST(x AS DOUBLE) * (127.0 / amax) - 0.5)
                 END) / (127.0 / amax))))
           / len(embedding)) AS rmse
  FROM q WHERE amax > 0
)
SELECT label, count(*) AS n_vecs,
       round(CAST(sum(CAST(rmse AS DECIMAL(38,10))) AS DOUBLE)
             / count(*), 8) AS avg_rmse,
       round(max(rmse), 8) AS max_rmse
FROM e GROUP BY label ORDER BY label
""",
    tags=("llmops", "embedding"),
    notes="int8 symmetric-quantization error audit per label: each vector "
    "scaled by 127/max|x|, rounded (explicit half-away-from-zero via "
    "floor/ceil so both engines round identically — no engine round() "
    "ambiguity), dequantized, per-vector RMSE from the sequential array "
    "fold (the embedding_normalize fold-parity discipline), label-level "
    "decimal-mean. The go/no-go report before shipping the int8 ANN "
    "path (ann_int8_topk); zero shuffle until the 10-row label agg.",
)
def embedding_int8_quant_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    xd = lambda x: x.cast("double")  # noqa: E731
    amax = F.array_max(F.transform("embedding", lambda x: F.abs(xd(x))))
    q = emb.withColumn("amax", amax).filter(F.col("amax") > 0)
    scale = F.lit(127.0) / F.col("amax")

    def rnd(y):  # explicit half-away-from-zero, engine-neutral
        return F.when(y >= 0, F.floor(y + 0.5)).otherwise(F.ceil(y - 0.5))

    def sq_err(x):
        d = xd(x) - rnd(xd(x) * scale) / scale
        return d * d

    rmse = F.sqrt(
        F.aggregate(
            F.col("embedding"), F.lit(0.0), lambda acc, x: acc + sq_err(x)
        )
        / F.size("embedding")
    )
    e = q.select("label", rmse.alias("rmse"))
    return (
        e.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(
                F.sum(F.col("rmse").cast("decimal(38,10)")).cast("double")
                / F.count("*"),
                8,
            ).alias("avg_rmse"),
            F.round(F.max("rmse"), 8).alias("max_rmse"),
        )
        .orderBy("label")
    )


@register(
    "embedding_standardize",
    oracle="""
WITH x AS (
  SELECT vec_id,
         unnest(generate_series(1, len(embedding))) - 1 AS pos,
         unnest(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS v
  FROM embeddings
), st AS (
  SELECT pos,
         CAST(sum(CAST(v AS DECIMAL(38,10))) AS DOUBLE) / count(*) AS mu,
         sqrt(greatest(
           (CAST(sum(CAST(v * v AS DECIMAL(38,10))) AS DOUBLE)
            - CAST(sum(CAST(v AS DECIMAL(38,10))) AS DOUBLE)
              * CAST(sum(CAST(v AS DECIMAL(38,10))) AS DOUBLE)
              / count(*)) / (count(*) - 1), 0.0)) AS sd
  FROM x GROUP BY pos
)
SELECT x.vec_id, x.pos AS pos,
       round((x.v - st.mu) / nullif(st.sd, 0.0), 6) AS z
FROM x JOIN st ON st.pos = x.pos
WHERE x.vec_id < 5
ORDER BY x.vec_id, x.pos
""",
    tags=("llmops", "embedding"),
    notes="Per-dimension corpus standardization (feature z-scoring): "
    "posexplode → 64-group decimal two-moment stats (map-side partial "
    "agg, the burstiness σ identity), broadcast-joined back onto the "
    "queried vectors — the whitening prep before PCA/linear probes. "
    "Stats come from the FULL corpus; only the 5 output vectors "
    "re-explode on the probe side. Scalar (vec_id, pos, z) output per "
    "the driver-hash discipline.",
)
def embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    emb = load_table(spark, "embeddings", sf_dir)
    x = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v0")
    ).select("vec_id", "pos", F.col("v0").cast("double").alias("v"))
    n = F.count("*")
    s1 = F.sum(F.col("v").cast("decimal(38,10)")).cast("double")
    s2 = F.sum((F.col("v") * F.col("v")).cast("decimal(38,10)")).cast(
        "double"
    )
    st = x.groupBy("pos").agg(
        (s1 / n).alias("mu"),
        F.sqrt(
            F.greatest(
                (s2 - s1 * s1 / n) / (n - F.lit(1)), F.lit(0.0)
            )
        ).alias("sd"),
    )
    return (
        x.filter(F.col("vec_id") < 5)
        .join(broadcast(st), "pos")
        .select(
            "vec_id",
            "pos",
            F.round(
                (F.col("v") - F.col("mu"))
                / F.nullif(F.col("sd"), F.lit(0.0)),
                6,
            ).alias("z"),
        )
        .orderBy("vec_id", "pos")
    )


@register(
    "embedding_class_separation",
    oracle="""
WITH x AS (
  SELECT label,
         unnest(generate_series(1, len(embedding))) - 1 AS pos,
         unnest(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS v
  FROM embeddings
), c AS (
  SELECT label, pos,
         CAST(sum(CAST(v AS DECIMAL(38,10))) AS DOUBLE) / count(*) AS m
  FROM x GROUP BY label, pos
)
SELECT a.label AS label_a, b.label AS label_b,
       round(sqrt(CAST(sum(CAST((a.m - b.m) * (a.m - b.m)
                               AS DECIMAL(38,10))) AS DOUBLE)), 6)
         AS centroid_l2
FROM c a JOIN c b ON a.pos = b.pos AND a.label < b.label
GROUP BY a.label, b.label
ORDER BY label_a, label_b
""",
    tags=("llmops", "embedding", "stats"),
    notes="Inter-class separation matrix: per-label centroids (decimal "
    "mean per dimension — one (label, pos) hash agg over the exploded "
    "corpus), then pairwise centroid L2 distances over the tiny "
    "labels×dim table (45 pairs × 64 dims — model-sized, never "
    "corpus-sized). Low inter-centroid distance flags label confusion / "
    "embedding collapse before training a probe on them.",
)
def embedding_class_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    x = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v0")
    ).select("label", "pos", F.col("v0").cast("double").alias("v"))
    c = x.groupBy("label", "pos").agg(
        (
            F.sum(F.col("v").cast("decimal(38,10)")).cast("double")
            / F.count("*")
        ).alias("m")
    )
    a, b = c.alias("a"), c.alias("b")
    diff = F.col("a.m") - F.col("b.m")
    return (
        a.join(
            b,
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"),
            F.col("b.label").alias("label_b"),
        )
        .agg(
            F.round(
                F.sqrt(
                    F.sum((diff * diff).cast("decimal(38,10)")).cast(
                        "double"
                    )
                ),
                6,
            ).alias("centroid_l2")
        )
        .orderBy("label_a", "label_b")
    )


@register(
    "label_balance_report",
    oracle="""
WITH c AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
t AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM c)
SELECT count(*) AS n_classes,
       CAST(max(t.total) AS BIGINT) AS n_total,
       round(CAST(sum(CAST(
           -(c.n / t.total) * ln(c.n / t.total) / ln(2.0)
           AS DECIMAL(38,10))) AS DOUBLE), 6) AS entropy_bits,
       round(exp(CAST(sum(CAST(
           -(c.n / t.total) * ln(c.n / t.total)
           AS DECIMAL(38,10))) AS DOUBLE)), 6) AS effective_classes,
       round(max(c.n) / CAST(min(c.n) AS DOUBLE), 6) AS max_min_ratio
FROM c CROSS JOIN t
""",
    tags=("llmops", "sampling", "stats"),
    notes="Class-balance audit over the embedding labels: Shannon entropy "
    "(bits), effective number of classes exp(H) — the perplexity of the "
    "label distribution, the right single number for 'how balanced' — "
    "and the max/min imbalance ratio. One label-count agg (10 rows), "
    "per-term doubles with a decimal term sum; the resample/reweight "
    "trigger next to mixture_resample_lang.",
)
def label_balance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, "embeddings", sf_dir)
    c = emb.groupBy("label").agg(F.count("*").alias("n"))
    t = c.agg(F.sum("n").cast("double").alias("total"))
    p = F.col("n") / F.col("total")
    return (
        c.crossJoin(t)
        .agg(
            F.count("*").alias("n_classes"),
            F.max("total").cast("bigint").alias("n_total"),
            F.round(
                F.sum(
                    (-p * F.log(p) / F.log(F.lit(2.0))).cast(
                        "decimal(38,10)"
                    )
                ).cast("double"),
                6,
            ).alias("entropy_bits"),
            F.round(
                F.exp(
                    F.sum((-p * F.log(p)).cast("decimal(38,10)")).cast(
                        "double"
                    )
                ),
                6,
            ).alias("effective_classes"),
            F.round(
                F.max("n") / F.min("n").cast("double"), 6
            ).alias("max_min_ratio"),
        )
    )


def _duck_pca_iter(i: int) -> str:
    """One unrolled power-iteration step of the DuckDB twin (matrix-free
    Xᵀ(Xv): per-vector projections s, then per-dim weighted sums w,
    then L2 normalization — all decimal-sum exact)."""
    p = i - 1
    return f"""s{i} AS (
  SELECT xc.vec_id,
         CAST(sum(CAST(xc.x * v{p}.vj AS DECIMAL(38,10))) AS DOUBLE) AS s
  FROM xc JOIN v{p} ON v{p}.pos = xc.pos GROUP BY xc.vec_id
), w{i} AS (
  SELECT xc.pos,
         CAST(sum(CAST(xc.x * s{i}.s AS DECIMAL(38,10))) AS DOUBLE) AS w
  FROM xc JOIN s{i} ON s{i}.vec_id = xc.vec_id GROUP BY xc.pos
), n{i} AS (
  SELECT sqrt(CAST(sum(CAST(w * w AS DECIMAL(38,10))) AS DOUBLE)) AS nrm
  FROM w{i}
), v{i} AS (
  SELECT pos, w / nrm AS vj FROM w{i} CROSS JOIN n{i}
)"""


@register(
    "embedding_pca_power_iteration",
    oracle=f"""
WITH xe AS (
  SELECT vec_id,
         unnest(generate_series(1, len(embedding))) - 1 AS pos,
         unnest(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS v
  FROM embeddings
), mu AS (
  SELECT pos,
         CAST(sum(CAST(v AS DECIMAL(38,10))) AS DOUBLE) / count(*) AS m
  FROM xe GROUP BY pos
), xc AS (
  SELECT xe.vec_id, xe.pos, xe.v - mu.m AS x
  FROM xe JOIN mu ON mu.pos = xe.pos
), v0 AS (
  SELECT DISTINCT pos, CAST(0.125 AS DOUBLE) AS vj FROM xc
), {_duck_pca_iter(1)}, {_duck_pca_iter(2)}, {_duck_pca_iter(3)}
SELECT v3.pos, round(v3.vj, 6) AS loading,
       round(n3.nrm, 4) AS power_norm
FROM v3 CROSS JOIN n3 ORDER BY v3.pos
""",
    tags=("llmops", "embedding", "iterative"),
    notes="Distributed top-principal-component extraction by matrix-free "
    "power iteration: 3 unrolled rounds of v ← normalize(Xᵀ(Xv)) over "
    "the mean-centered exploded corpus — per-vector projections (one "
    "vec-keyed agg) then per-dimension weighted sums (one pos-keyed "
    "agg) per round, the 64-row v broadcast each time; never a dim×dim "
    "covariance materialization and never a driver-side collect, so the "
    "same plan runs at 100 TB (rounds are jobs, X is re-scanned or "
    "persisted). Every inner product is a decimal sum → bit-equal to "
    "the unrolled DuckDB twin including the final normalization. "
    "Deterministic start v0 = 1/8 (unit 64-dim).",
)
def embedding_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    emb = load_table(spark, "embeddings", sf_dir)
    xe = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "v0")
    ).select("vec_id", "pos", F.col("v0").cast("double").alias("v"))
    mu = xe.groupBy("pos").agg(
        (
            F.sum(F.col("v").cast("decimal(38,10)")).cast("double")
            / F.count("*")
        ).alias("m")
    )
    xc = xe.join(broadcast(mu), "pos").select(
        "vec_id", "pos", (F.col("v") - F.col("m")).alias("x")
    )
    # n×64 rows reused by all three iterations (both aggs per round):
    # bounded working set, disk-backed so it spills rather than evicts
    # executor memory at scale. Blocks are reclaimed by the
    # ContextCleaner once the returned frame is garbage collected (same
    # contract as operators/dedup.py ngram_jaccard_pairs); callers
    # running many invocations in one long session can force earlier
    # release by dropping their reference to the result.
    from pyspark import StorageLevel

    xc = xc.persist(StorageLevel.MEMORY_AND_DISK)
    v = xc.select("pos").distinct().select(
        "pos", F.lit(0.125).alias("vj")
    )
    nrm_col = None
    for _ in range(3):
        s = (
            xc.join(broadcast(v), "pos")
            .groupBy("vec_id")
            .agg(
                F.sum((F.col("x") * F.col("vj")).cast("decimal(38,10)"))
                .cast("double")
                .alias("s")
            )
        )
        w = (
            xc.join(s, "vec_id")
            .groupBy("pos")
            .agg(
                F.sum((F.col("x") * F.col("s")).cast("decimal(38,10)"))
                .cast("double")
                .alias("w")
            )
        )
        nrm = w.agg(
            F.sqrt(
                F.sum((F.col("w") * F.col("w")).cast("decimal(38,10)"))
                .cast("double")
            ).alias("nrm")
        )
        v = w.crossJoin(broadcast(nrm)).select(
            "pos", (F.col("w") / F.col("nrm")).alias("vj")
        )
        nrm_col = nrm
    return (
        v.crossJoin(broadcast(nrm_col))
        .select(
            "pos",
            F.round("vj", 6).alias("loading"),
            F.round("nrm", 4).alias("power_norm"),
        )
        .orderBy("pos")
    )


@register(
    "embedding_label_outliers",
    oracle="""
WITH xe AS (
  SELECT vec_id, label,
         unnest(generate_series(1, len(embedding))) - 1 AS pos,
         unnest(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS v
  FROM embeddings
), c AS (
  SELECT label, pos,
         CAST(sum(CAST(v AS DECIMAL(38,10))) AS DOUBLE) / count(*) AS m
  FROM xe GROUP BY label, pos
), d AS (
  SELECT xe.vec_id, xe.label,
         sqrt(CAST(sum(CAST((xe.v - c.m) * (xe.v - c.m)
                            AS DECIMAL(38,10))) AS DOUBLE)) AS dist
  FROM xe JOIN c ON c.label = xe.label AND c.pos = xe.pos
  GROUP BY xe.vec_id, xe.label
), st AS (
  SELECT label,
         CAST(sum(CAST(dist AS DECIMAL(38,10))) AS DOUBLE) / count(*)
           AS mu,
         sqrt(greatest(
           (CAST(sum(CAST(dist * dist AS DECIMAL(38,10))) AS DOUBLE)
            - CAST(sum(CAST(dist AS DECIMAL(38,10))) AS DOUBLE)
              * CAST(sum(CAST(dist AS DECIMAL(38,10))) AS DOUBLE)
              / count(*)) / (count(*) - 1), 0.0)) AS sd
  FROM d GROUP BY label
)
SELECT d.vec_id, d.label, round(d.dist, 6) AS dist,
       round((d.dist - st.mu) / nullif(st.sd, 0.0), 6) AS z
FROM d JOIN st ON st.label = d.label
ORDER BY z DESC, vec_id LIMIT 20
""",
    tags=("llmops", "embedding", "quality"),
    notes="Per-label embedding outliers (mislabel / contamination "
    "detector): distance of every vector to its OWN label centroid, "
    "z-scored within the label (decimal two-moment σ), top-20 most "
    "anomalous — the triage list a labeling-QA pass reviews first. One "
    "(label,pos) centroid agg, one co-keyed distance agg, a label-sized "
    "stats broadcast; top-20 via TakeOrderedAndProject.",
)
def embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    emb = load_table(spark, "embeddings", sf_dir)
    xe = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "v0")
    ).select(
        "vec_id", "label", "pos", F.col("v0").cast("double").alias("v")
    )
    c = xe.groupBy("label", "pos").agg(
        (
            F.sum(F.col("v").cast("decimal(38,10)")).cast("double")
            / F.count("*")
        ).alias("m")
    )
    diff = F.col("v") - F.col("m")
    d = (
        xe.join(broadcast(c), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sqrt(
                F.sum((diff * diff).cast("decimal(38,10)")).cast("double")
            ).alias("dist")
        )
    )
    n = F.count("*")
    s1 = F.sum(F.col("dist").cast("decimal(38,10)")).cast("double")
    s2 = F.sum((F.col("dist") * F.col("dist")).cast("decimal(38,10)")).cast(
        "double"
    )
    st = d.groupBy("label").agg(
        (s1 / n).alias("mu"),
        F.sqrt(
            F.greatest((s2 - s1 * s1 / n) / (n - F.lit(1)), F.lit(0.0))
        ).alias("sd"),
    )
    return (
        d.join(broadcast(st), "label")
        .select(
            "vec_id",
            "label",
            F.round("dist", 6).alias("dist"),
            F.round(
                (F.col("dist") - F.col("mu"))
                / F.nullif(F.col("sd"), F.lit(0.0)),
                6,
            ).alias("z"),
        )
        .orderBy(F.col("z").desc(), "vec_id")
        .limit(20)
    )


_FANO_BODY = """
top AS (
  SELECT token FROM toks GROUP BY token
  ORDER BY count(*) DESC, token LIMIT 64
), dt AS (
  SELECT doc_id, token, count(*) AS c FROM toks
  WHERE token IN (SELECT token FROM top)
  GROUP BY doc_id, token
), nd AS (SELECT count(DISTINCT doc_id) AS n FROM docs_all),
agg AS (
  SELECT token,
         CAST(sum(c) AS BIGINT) AS total_c,
         CAST(sum(c * c) AS BIGINT) AS total_c2
  FROM dt GROUP BY token
)
SELECT agg.token, agg.total_c,
       round(agg.total_c / CAST(nd.n AS DOUBLE), 8) AS mean_per_doc,
       round(((agg.total_c2
               - agg.total_c * (agg.total_c / CAST(nd.n AS DOUBLE)))
              / CAST(nd.n AS DOUBLE))
             / (agg.total_c / CAST(nd.n AS DOUBLE)), 6) AS fano
FROM agg CROSS JOIN nd
ORDER BY fano DESC, token
"""

register_sql(
    "token_burstiness_fano",
    spark_sql=(
        "WITH docs_all AS (SELECT doc_id FROM documents), toks AS "
        "(SELECT doc_id, token FROM documents LATERAL VIEW "
        f"explode(regexp_extract_all(lower(text), '{_PAT_SPARK}', 0)) "
        f"t AS token),{_FANO_BODY}"
    ),
    duck_sql=(
        "WITH docs_all AS (SELECT doc_id FROM documents), toks AS "
        "(SELECT doc_id, unnest(regexp_extract_all(lower(text), "
        f"'{textstats.TOKEN_PATTERN}')) AS token FROM documents),"
        f"{_FANO_BODY}"
    ),
    tags=("llmops", "text", "stats"),
    notes="Token burstiness via the Fano factor (variance/mean of "
    "per-document counts, zeros included in closed form — absent docs "
    "contribute 0 to both moments, so only the (doc, token) PRESENT "
    "rows are ever materialized): Fano ≈ 1 means Poisson scatter "
    "(function words), Fano ≫ 1 means the token clumps into few "
    "documents (content/topical words, per Church-Gale burstiness) — "
    "the signal separating topical vocabulary from glue. Top-64 "
    "vocabulary bound; integer moment sums, double division at the "
    "end.",
)


_CURVE_GRID = [0.25, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]

_CURVE_TAIL = (
    ", grid (t) AS (VALUES "
    + ", ".join(f"(CAST({t} AS DOUBLE))" for t in _CURVE_GRID)
    + """),
f AS (
  SELECT grid.t, s.id_a, s.id_b
  FROM scored s JOIN grid ON s.jaccard >= grid.t
), pc AS (SELECT t, count(*) AS n_pairs FROM f GROUP BY t),
dc AS (
  SELECT t, count(DISTINCT d) AS n_docs FROM (
    SELECT t, id_a AS d FROM f UNION ALL SELECT t, id_b AS d FROM f
  ) GROUP BY t
)
SELECT grid.t AS threshold,
       coalesce(pc.n_pairs, 0) AS n_pairs,
       coalesce(dc.n_docs, 0) AS n_docs
FROM grid LEFT JOIN pc ON pc.t = grid.t LEFT JOIN dc ON dc.t = grid.t
ORDER BY threshold"""
)


@register(
    "dedup_jaccard_threshold_curve",
    oracle=_DUCK_JACCARD.replace(
        "SELECT * FROM scored WHERE jaccard >= 0.5 ORDER BY id_a, id_b",
        _CURVE_TAIL,
    ),
    tags=("llmops", "dedup", "stats"),
    notes="Threshold-tuning curve for n-gram Jaccard dedup ('measure, "
    "don't guess'): pair counts and affected-document counts at 8 "
    "candidate thresholds, all derived from ONE inverted-index pair "
    "computation at the loosest threshold — the marginal cost of the "
    "whole curve over a single point is an 8-row broadcast join. The "
    "operational input for choosing the dedup threshold before a "
    "production run (where is the knee; how many docs does each step "
    "actually remove).",
)
def dedup_jaccard_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import broadcast

    docs = load_table(spark, "documents", sf_dir)
    pairs = dedup.ngram_jaccard_pairs(
        docs, k=3, threshold=min(_CURVE_GRID), max_bucket=1000
    ).select("id_a", "id_b", "jaccard")
    grid = spark.createDataFrame(
        [(t,) for t in _CURVE_GRID], "t double"
    )
    f = pairs.crossJoin(broadcast(grid)).filter(
        F.col("jaccard") >= F.col("t")
    )
    pc = f.groupBy("t").agg(F.count("*").alias("n_pairs"))
    dc = (
        f.select("t", F.col("id_a").alias("d"))
        .unionAll(f.select("t", F.col("id_b").alias("d")))
        .groupBy("t")
        .agg(F.count_distinct("d").alias("n_docs"))
    )
    return (
        grid.join(pc, "t", "left")
        .join(dc, "t", "left")
        .select(
            F.col("t").alias("threshold"),
            F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
            F.coalesce("n_docs", F.lit(0)).alias("n_docs"),
        )
        .orderBy("threshold")
    )
