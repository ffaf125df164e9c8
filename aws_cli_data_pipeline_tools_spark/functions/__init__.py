"""Vector / text column expression helpers — all JVM-side built-ins.

Everything here composes ``pyspark.sql.functions`` higher-order array
functions, so the hot path stays inside whole-stage codegen: no Python UDFs.
Embeddings are ``array<float>``; elements are cast to double before
arithmetic (exact) and folds run left-to-right (deterministic order).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def vec_dot(a: Column, b: Column) -> Column:
    """Dot product of two equal-length float arrays (double precision)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def vec_norm(a: Column) -> Column:
    return F.sqrt(vec_dot(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL if either vector has zero norm."""
    return vec_dot(a, b) / F.nullif(vec_norm(a) * vec_norm(b), F.lit(0.0))


def word_shingles(text: Column, k: int = 3, sep: str = " ") -> Column:
    """Distinct k-word shingles of a whitespace-tokenized text column.

    Built as ``zip_with`` over k shifted ``slice``s of the word array — NOT
    a transform with per-index ``element_at``: higher-order lambdas are
    interpreted (CodegenFallback) and would re-evaluate the ``split`` inside
    the lambda once per element × k, turning O(n) into O(n²·k) per document.
    The slice/zip form references the split only k+1 times total.

    No explode — the shingle set stays a single array cell until the caller
    chooses to explode. Texts shorter than k words yield an empty array.

    Tokenization drops empty tokens (``array_remove(split, '')``):
    leading/trailing whitespace used to create phantom '' words that
    changed the shingle set, so two texts identical up to surrounding
    whitespace missed each other in every Jaccard/MinHash/SimHash
    consumer (r8 review). Every DuckDB oracle twin mirrors this with
    ``list_filter(regexp_split_to_array(...), x -> x <> '')``.
    """
    words = F.array_remove(F.split(text, r"\s+"), "")
    n = F.size(words)
    length = F.greatest(n - F.lit(k - 1), F.lit(0))
    grams = F.slice(words, 1, length)
    for j in range(1, k):
        shifted = F.slice(words, j + 1, length)
        grams = F.zip_with(grams, shifted, lambda a, b: F.concat_ws(sep, a, b))
    return F.when(n >= F.lit(k), F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


#: MinHash modulus — universal hashing over GF(2^31-1): h, a, b < p keeps
#: a*h < 2^62 inside a signed long AND wraps the modulus ~2e9 times (a
#: near-2^61 modulus would barely wrap, leaving the "permutation"
#: order-preserving — broken MinHash). Same construction as Spark MLlib's
#: MinHashLSH.
MINHASH_PRIME = (1 << 31) - 1  # Mersenne prime 2^31 - 1


def portable_hash64(col: Column) -> Column:
    """Engine-portable 60-bit hash: first 15 hex chars of md5 as int64.

    The cross-engine twin is DuckDB's
    ``CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)`` — identical
    values, which is what lets MinHash/SimHash register real DuckDB oracles
    (same discipline as sampling.hash_bucket_expr). 15 hex chars = 60 bits
    keeps the value positive in a signed long. It is the one word/shingle
    hash of the MinHash and SimHash operators, so their results are
    exactly what the DuckDB oracles replay; it costs ~2-3× xxhash64.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def minhash_params(num_perm: int, seed: int) -> list[tuple[int, int]]:
    """The (a_i, b_i) universal-hash parameter draw shared by every MinHash
    implementation in this repo (expression, Arrow UDF, and the generated
    DuckDB oracle SQL) — one definition so they can never drift."""
    rnd = __import__("random").Random(seed)
    p = MINHASH_PRIME
    return [(rnd.randrange(1, p), rnd.randrange(0, p)) for _ in range(num_perm)]


def shingle_hashes(shingles: Column) -> Column:
    """Per-shingle ``portable_hash64`` reduced mod MINHASH_PRIME, so a
    DuckDB oracle can replay the arithmetic.

    Materialize this as its OWN column before computing signatures:
    lambda subtrees are not common-subexpression-eliminated, so hashing
    inline inside each of the num_perm transforms would re-hash every
    shingle string num_perm times.
    """
    return F.transform(
        shingles, lambda s: F.pmod(portable_hash64(s), F.lit(MINHASH_PRIME))
    )


def minhash_signature_from_hashes(
    hashes: Column, num_perm: int = 64, seed: int = 1
) -> Column:
    """MinHash signature from a pre-hashed shingle array: per permutation i,
    ``min over h of (a_i*h + b_i) mod p``.

    All arithmetic is JVM-side (``transform``/``array_min``); the per-row cost
    is O(|shingles| * num_perm) with no shuffle — embarrassingly parallel, the
    scale-path for MinHash on 100 TB of documents.
    """
    p = MINHASH_PRIME
    params = minhash_params(num_perm, seed)

    def perm_min(a: int, b: int):
        return F.array_min(
            F.transform(hashes, lambda h: F.pmod(h * F.lit(a) + F.lit(b), F.lit(p)))
        )

    sig = F.array(*[perm_min(a, b) for (a, b) in params])
    # Empty shingle set → empty-signature sentinel (all p) so it never matches.
    return F.when(F.size(hashes) > 0, sig).otherwise(
        F.array_repeat(F.lit(p), num_perm)
    )


def minhash_signatures_arrow(num_perm: int = 64, seed: int = 1):
    """Arrow-batched MinHash signature UDF over pre-hashed shingle arrays.

    Same permutation family as ``minhash_signature_from_hashes`` (identical
    ``random.Random(seed)`` parameter draw → identical signatures), but
    computed map-side in numpy: each Arrow batch concatenates its shingle
    arrays into one flat int64 vector, applies ``(a_i·h + b_i) mod p`` per
    permutation, and takes per-document minima with ``np.minimum.reduceat``.

    Why this beats both expression forms on the hot path:
    - vs higher-order ``transform``/``array_min``: those are interpreted
      (CodegenFallback), ~10× slower per element;
    - vs explode + 64 MIN hash-aggregates: no row explosion and **no
      shuffle** — the signature never leaves the input row, so downstream
      banding needs no join back to the shingle arrays.

    Overflow-safe: h, a < p = 2^31-1 keeps a·h+b < 2^63 in int64.
    Empty shingle arrays get the all-``p`` sentinel (callers that band must
    filter empties first or all empty docs would bucket together).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    p = MINHASH_PRIME
    params = minhash_params(num_perm, seed)
    a_arr = np.array([a for a, _ in params], dtype=np.int64)
    b_arr = np.array([b for _, b in params], dtype=np.int64)

    # no annotations: `from __future__ import annotations` stringifies them
    # and pandas_udf cannot resolve locally-imported pd.Series (same pattern
    # as registry.py's vectorized path)
    def sig(hsh):
        n = len(hsh)
        if n == 0:
            return pd.Series([], dtype=object)
        # NULL arrays get the same all-p sentinel as empty ones —
        # np.asarray(None) raised, failing the whole task while the
        # expression twin returned the sentinel (r8 review)
        segs = [np.asarray(() if x is None else x, dtype=np.int64) for x in hsh]
        lens = np.fromiter((s.size for s in segs), dtype=np.int64, count=n)
        out = np.full((n, num_perm), p, dtype=np.int64)
        ne = np.nonzero(lens > 0)[0]
        if ne.size:
            flat = np.concatenate([segs[i] for i in ne])
            # boundaries of the non-empty segments inside `flat`
            starts = np.zeros(ne.size, dtype=np.int64)
            np.cumsum(lens[ne][:-1], out=starts[1:])
            for i in range(num_perm):
                v = (flat * a_arr[i] + b_arr[i]) % p
                out[ne, i] = np.minimum.reduceat(v, starts)
        return pd.Series(list(out))

    return pandas_udf(sig, "array<bigint>", functionType=PandasUDFType.SCALAR)


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (bigints)."""
    return F.bit_count(a.bitwiseXOR(b))


def rolling_fingerprint(words: Column, modulus: int = 1 << 56) -> Column:
    """Order-sensitive polynomial rolling hash of a token array → bigint.

    ``acc = (acc * 31 + xxhash64(token)) mod 2^56`` left fold — a document
    fingerprint that, unlike a set hash, distinguishes permutations. The
    modulus keeps ``acc*31 + h < 2^63`` (ANSI mode: overflow raises).
    """
    return F.aggregate(
        words,
        F.lit(0).cast("bigint"),
        lambda acc, w: F.pmod(
            acc * F.lit(31) + F.pmod(F.xxhash64(w), F.lit(modulus)), F.lit(modulus)
        ),
    )
