"""Multi-scale (1/10/30×) stress for MinHash-LSH and decontamination.

Extends the round-2/3 10× spot checks to the next decade for the two
flagship scale paths, using the r8 cipher-replication fixture
(tools/_stress_common.py): replica i substitutes characters by a seeded
permutation, a bijection that preserves within-replica shingle structure
EXACTLY while shingle sets stay disjoint across replicas — so the true
near-dup pair count grows exactly N× (linear) while the corpus grows N×,
with no text-length change.

Measured shapes:
- ``minhash_lsh_pairs`` over the N× corpus (the dedup_minhash_lsh
  catalog operating point: k=3, 64 perms, 32 bands, t=0.5).
  Expectation: map-side Arrow signatures are linear; the band shuffle is
  O(bands × docs); candidate verification linear in true pairs.
- ``decontaminate`` / ``bloom_decontaminate`` with the TRAIN side scaled
  N× against a FIXED 1× eval slice — the production shape (corpus grows,
  eval benchmark set doesn't). Cipher batches share no grams with the
  eval slice, so the contaminated-id set is constant and the measurement
  isolates corpus-side shingle+probe cost. Expectation: ~linear, with
  bloom's broadcast fixed-size regardless of scale.

Baseline parity (r8 review): the 1× point goes through the same
``materialize()`` (repartition 32 + persist + count) as every N× point,
and ALL THREE kernels are warmed before the first timing — the original
tool ran the 1× base raw and never warmed bloom_decontaminate, which
biased the recorded exponents low (spurious negative 10× readings).

Usage: python tools/stress_minhash_decon.py [sf_dir] [--mults 1,10,30]
           [--index]  (adds the incremental-index build/probe curve)
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")
sys.path.insert(0, "tools")

from pyspark.sql import functions as F  # noqa: E402

from _stress_common import (  # noqa: E402
    SHIFT,
    cipher_replicated,
    exponent,
    materialize,
    parse_mults,
    timed,
)


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    mults = parse_mults(sys.argv, [1, 10, 30])

    from aws_cli_data_pipeline_tools_spark.operators import curation, dedup
    from aws_cli_data_pipeline_tools_spark.session import get_spark
    from aws_cli_data_pipeline_tools_spark.sources import load_table

    spark = get_spark(app_name="stress-minhash-decon")
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    # fixed eval slice (the catalog decontaminate split, 1× only)
    ev = (
        load_table(spark, "documents", sf_dir)
        .filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", "text")
    )

    # warmup: JVM + Arrow worker pool on ALL timed kernels (bloom too —
    # its first call pays one-time broadcast-build codegen, r8 review)
    dedup.minhash_lsh_pairs(
        docs.limit(300), k=3, num_perm=64, bands=32, threshold=0.5
    ).count()
    curation.decontaminate(docs.limit(300), ev.limit(100), n=5).count()
    curation.bloom_decontaminate(docs.limit(300), ev.limit(100), n=5).count()

    t_mh: dict[int, float] = {}
    t_dx: dict[int, float] = {}
    t_db: dict[int, float] = {}
    for mult in mults:
        corpus = materialize(cipher_replicated(docs, mult))
        print(f"{mult}x = {corpus.count()} docs", flush=True)
        t_mh[mult] = timed(
            f"minhash_lsh      {mult}x",
            lambda c=corpus: dedup.minhash_lsh_pairs(
                c, k=3, num_perm=64, bands=32, threshold=0.5
            ).count(),
            repeat=2,
        )
        train = corpus.filter((F.col("doc_id") % SHIFT) % 10 != 0)
        t_dx[mult] = timed(
            f"decontaminate    {mult}x train vs 1x eval",
            lambda t=train: curation.decontaminate(t, ev, n=5).count(),
            repeat=2,
        )
        t_db[mult] = timed(
            f"bloom_decontam   {mult}x train vs 1x eval",
            lambda t=train: curation.bloom_decontaminate(t, ev, n=5).count(),
            repeat=2,
        )
        if mult > 1:
            for name, t in (
                ("minhash_lsh", t_mh),
                ("decontaminate", t_dx),
                ("bloom_decontam", t_db),
            ):
                print(
                    f"  @{mult}x {name}: exponent {exponent(t, mult):.2f}"
                    " (1.0 = linear)",
                    flush=True,
                )
        corpus.unpersist()

    if "--index" in sys.argv:
        _index_probe_curve(spark, docs, mults)
    return 0


def _index_probe_curve(spark, docs, mults) -> None:
    """``--index`` (VERDICT r8 task 8): the incremental MinHash index —
    the one flagship dedup route whose scale curve was inferred from
    design rather than measured. Build the persisted index over the N×
    cipher corpus, then probe it with a FIXED 500-doc batch (a slice of
    replica 0 — its pair yield is constant across scales by the cipher
    fixture's disjointness). The claim under test: probe cost is a
    band-table scan (rowgroup-pruned on the range-clustered (band,
    bkey)) + fixed-size broadcasts — the corpus is never re-shingled
    and never shuffled, so probe wall should grow far sub-linearly
    while build grows ~linearly."""
    import shutil

    from aws_cli_data_pipeline_tools_spark.operators import dedup
    from aws_cli_data_pipeline_tools_spark.sources import scratch_dir

    root = scratch_dir("sparkgraft-stress-mhidx")
    batch = materialize(docs.limit(500))
    # warm both kernels (build once at tiny scale, probe it once)
    wpath = f"{root}/warm"
    dedup.build_minhash_index(docs.limit(300), wpath)
    dedup.minhash_index_probe(spark, wpath, batch).count()

    t_build: dict[int, float] = {}
    t_probe: dict[int, float] = {}
    for mult in mults:
        corpus = materialize(cipher_replicated(docs, mult))
        path = f"{root}/m{mult}"
        t_build[mult] = timed(
            f"index build {mult}x",
            lambda c=corpus, p=path: dedup.build_minhash_index(c, p),
        )
        t_probe[mult] = timed(
            f"index probe {mult}x (fixed 500-doc batch)",
            lambda p=path: dedup.minhash_index_probe(
                spark, p, batch
            ).count(),
            repeat=2,
        )
        if mult > 1:
            print(
                f"  @{mult}x: build exponent {exponent(t_build, mult):.2f}, "
                f"probe exponent {exponent(t_probe, mult):.2f} "
                "(1.0 = linear)",
                flush=True,
            )
        corpus.unpersist()
        shutil.rmtree(path, ignore_errors=True)
    batch.unpersist()
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
