"""Round-over-round SCALE-bench artifact (VERDICT r11 task 5).

The 100× cipher cells that prove the width mechanism's firing-scale
economics (jaccard/containment/span/minhash/overlap on the shared
cipher-replicated corpus, plus the pointer-jumped connected-components
mixed-graph cell) lived only in BASELINE.md prose, so a scale regression
had no round-over-round diff the way the sf0.1 headline does. This tool
times each cell min-of-``--repeat`` at the SHIPPED operating point
(auto modes as registered, widths on), stamps the bench CPU-probe pair
around the run, band-checks every cell against the best probe-normalized
prior recording (BENCH_SCALE_r*.json, same corpus key), and emits
``BENCH_SCALE_r{N}.json``. The corpus key carries the core count, so a
band recorded on one core count never judges a run on another.

Protocol notes:
- fixture/measurement come from tools/_stress_common.py (cipher
  replication: bijective per-replica character permutation, so true pair
  structure grows exactly linearly; every scale point materialized the
  same way);
- cells run on the sf0.1 documents base at ``--mult 100`` — 500k docs,
  the same firing scale the r11 spill audit closed at;
- a cell is flagged when
  ``sec > BAND_FACTOR × best_sec × clamp(probe_now / best_probe)``;
  violations are reported in the artifact, never silently dropped;
- like bench.py, the FINAL stdout line is the one-line JSON record
  (bounded: one scalar per cell), and it is also written to the ``--out``
  path (default ``BENCH_SCALE_r{--round}.json`` in the repo root).

Usage:
  python tools/bench_scale.py [sf_dir] [--mult 100] [--repeat 3]
      [--round N] [--out PATH] [--ops jaccard,containment,...]
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, ".")
sys.path.insert(0, "tools")

from _stress_common import cipher_replicated, materialize, timed  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

#: Band factor, and the clamp on the probe ratio that rescales a band to
#: the current host: the matmul probe itself varied ~1.7× within a day on
#: the recorded hosts (BASELINE.md r8 notes), so an unclamped ratio would
#: let probe noise move the threshold arbitrarily.
BAND_FACTOR = 1.3
PROBE_RATIO_CLAMP = (0.5, 2.0)

#: Mixed-graph cell shape (pointer-jump vs diameter): parameters are part
#: of the cell NAME so a future reshape starts a fresh band instead of
#: comparing against a different graph.
CLIQUES = 100_000
CHAIN = 1_000

#: Blocked-cosine cell replication factor over the sf0.1 embeddings base
#: (5k vectors): 40× = 200k — the r12 audit's firing scale for the OOM
#: class this cell exists to band (see the cell comment in main()).
COSINE_MULT = 40


def _recorded_scale_bands(
    corpus_key: str, search_dir: str = REPO
) -> dict[str, tuple[float, float]]:
    """Best probe-normalized (sec, probe) per cell across prior
    BENCH_SCALE_r*.json artifacts with the SAME corpus key. Divergent-
    probe rounds are excluded."""
    bands: dict[str, tuple[float, float]] = {}
    best_cost: dict[str, float] = {}
    for path in glob.glob(os.path.join(search_dir, "BENCH_SCALE_r*.json")):
        try:
            rec = json.load(open(path))
        except (OSError, ValueError):
            continue
        if rec.get("corpus_key") != corpus_key or rec.get("probe_divergent"):
            continue
        probe = rec.get("cpu_probe_sec_end") or rec.get("cpu_probe_sec")
        if not isinstance(probe, (int, float)) or probe <= 0:
            continue
        for name, sec in (rec.get("cells") or {}).items():
            if not isinstance(sec, (int, float)) or sec <= 0:
                continue
            cost = sec / probe
            if cost < best_cost.get(name, float("inf")):
                best_cost[name] = cost
                bands[name] = (float(sec), float(probe))
    return bands


def _corpus_key(sf_dir: str, mult: int, cores: int) -> str:
    """Band key of a run: scale-factor dir name, replication factor and
    core count, e.g. ``sf0.1|100x|c4``."""
    return f"{os.path.basename(os.path.normpath(sf_dir))}|{mult}x|c{cores}"


def _positional_args(argv: list[str]) -> list[str]:
    """Positional tokens: skip '--flag' tokens AND their values (a bare
    'python tools/bench_scale.py --mult 50' must not read '50' as the
    sf_dir — r12 review)."""
    out, skip = [], False
    for a in argv:
        if skip:
            skip = False
            continue
        if a.startswith("--"):
            skip = True
            continue
        out.append(a)
    return out


def main() -> int:
    args = _positional_args(sys.argv[1:])
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    mult, repeat, round_no, out, ops_arg = 100, 3, 0, None, None
    for i, a in enumerate(sys.argv):
        if a == "--mult" and i + 1 < len(sys.argv):
            mult = int(sys.argv[i + 1])
        if a == "--repeat" and i + 1 < len(sys.argv):
            repeat = int(sys.argv[i + 1])
        if a == "--round" and i + 1 < len(sys.argv):
            round_no = int(sys.argv[i + 1])
        if a == "--out" and i + 1 < len(sys.argv):
            out = sys.argv[i + 1]
        if a == "--ops" and i + 1 < len(sys.argv):
            ops_arg = sys.argv[i + 1].split(",")
    if out is None:
        out = os.path.join(REPO, f"BENCH_SCALE_r{round_no:02d}.json")

    from bench import (  # repo-root bench.py
        _cpu_probe,
        _probe_divergent,
        _steal_pct,
        _steal_snapshot,
    )

    from pyspark.sql import functions as F  # noqa: N812

    from aws_cli_data_pipeline_tools_spark.operators import dedup
    from aws_cli_data_pipeline_tools_spark.session import get_spark
    from aws_cli_data_pipeline_tools_spark.sources import load_table

    spark = get_spark(app_name="bench-scale")
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")

    def sink(df) -> int:
        df.write.format("noop").mode("overwrite").save()
        return -1  # timed() prints rows; the noop sink has none to count

    # SHIPPED operating points — auto modes as the catalog registers them
    kernels = {
        "jaccard": lambda c: sink(dedup.ngram_jaccard_pairs(c, threshold=0.3)),
        "containment": lambda c: sink(
            dedup.ngram_containment_pairs(c, threshold=0.5)
        ),
        "span": lambda c: sink(dedup.shared_span_pairs(c)),
        "minhash": lambda c: sink(dedup.minhash_lsh_pairs(c)),
        "overlap": lambda c: sink(
            dedup.source_overlap_matrix(
                c.withColumn(
                    "source",
                    F.pmod(F.col("doc_id"), F.lit(8)).cast("string"),
                ),
                n=5,
            )
        ),
    }
    ops = ops_arg or [*kernels, "clusters_mixed", "cosine"]
    special = {"clusters_mixed", "cosine"}
    unknown = [o for o in ops if o not in kernels and o not in special]
    assert not unknown, f"unknown --ops {unknown}"

    cpu_probe = _cpu_probe()
    steal_t0 = _steal_snapshot()
    load_t0 = round(os.getloadavg()[0], 2)
    t_wall0 = time.perf_counter()

    corpus = materialize(cipher_replicated(docs, mult))
    n_docs = corpus.count()
    corpus_key = _corpus_key(sf_dir, mult, spark.sparkContext.defaultParallelism)
    print(f"==== corpus {corpus_key}: {n_docs} docs ====", flush=True)

    cells: dict[str, float] = {}
    for op in ops:
        if op in special:
            continue
        fn = kernels[op]
        fn(corpus.limit(200))  # warm codegen/worker pool
        cells[f"{op}@{mult}x"] = round(
            timed(f"{op}@{mult}x", lambda f=fn: f(corpus), repeat=repeat), 3
        )
    corpus.unpersist()

    if "clusters_mixed" in ops:
        # pointer-jump cell: K5 cliques + one deep chain (the r11
        # mixed-graph shape of BASELINE.md, parameters in the cell name)
        base = spark.range(CLIQUES).select(F.col("id").alias("c"))
        edges = None
        for i in range(5):
            for j in range(i + 1, 5):
                e = base.select(
                    (F.col("c") * 5 + i).alias("id_a"),
                    (F.col("c") * 5 + j).alias("id_b"),
                )
                edges = e if edges is None else edges.unionAll(e)
        off = CLIQUES * 5
        edges = edges.unionAll(
            spark.range(CHAIN).select(
                (F.col("id") + off).alias("id_a"),
                (F.col("id") + off + 1).alias("id_b"),
            )
        ).repartition(32).persist()
        edges.count()

        def run_clusters() -> int:
            got = (
                dedup.dedup_clusters(edges, max_iterations=64)
                .groupBy()
                .agg(F.countDistinct("group_id"))
                .collect()[0][0]
            )
            assert got == CLIQUES + 1, got
            return got

        run_clusters()  # warm
        name = f"clusters_mixed_c{CLIQUES // 1000}k_ch{CHAIN}"
        cells[name] = round(timed(name, run_clusters, repeat=repeat), 3)
        edges.unpersist()

    if "cosine" in ops:
        # blocked exact all-pairs cosine — the r12 OOM class (fixed
        # n_blocks=8 → 5 GB sims/group JVM kill at 200k vectors; now
        # auto-sized, dedup.py _cosine_auto_blocks). Banded at the
        # AUDITED firing scale, COSINE_MULT×sf0.1 = 200k vectors
        # (BASELINE.md r12 audit: 239-269 s, 0 spill) — the 100×/500k
        # point of the documents cells would cost ~25 min/attempt on the
        # O(n²) kernel, too heavy to re-run every round; the mult is in
        # the cell name so a reshape starts a fresh band. Shifted-id
        # replication (constant geometry, volume-only growth), same
        # fixture as tools/measure_ann_spill.py.
        base = load_table(spark, "embeddings", sf_dir).select(
            "vec_id", "embedding"
        )
        shift = 10_000_000
        ecorpus = materialize(
            base.select(
                "vec_id",
                "embedding",
                F.explode(
                    F.sequence(F.lit(0), F.lit(COSINE_MULT - 1))
                ).alias("_rep"),
            ).select(
                (
                    F.col("vec_id").cast("long")
                    + F.col("_rep").cast("long") * F.lit(shift).cast("long")
                ).alias("vec_id"),
                "embedding",
            )
        )
        n_vec = ecorpus.count()
        print(f"==== cosine corpus: {n_vec} vectors ====", flush=True)

        def run_cosine() -> int:
            return sink(
                dedup.embedding_cosine_pairs(
                    ecorpus, threshold=0.9, n_planes=0
                )
            )

        # warm on a slice (codegen + Arrow worker pool, not the kernel)
        sink(
            dedup.embedding_cosine_pairs(
                ecorpus.limit(2000), threshold=0.9, n_planes=0
            )
        )
        name = f"cosine_pairs@{COSINE_MULT}x_t0.9"
        cells[name] = round(timed(name, run_cosine, repeat=repeat), 3)
        ecorpus.unpersist()

    cpu_probe_end = _cpu_probe()
    probe_divergent = _probe_divergent(cpu_probe, cpu_probe_end)

    # band check vs prior artifacts (probe-normalized)
    bands = _recorded_scale_bands(corpus_key)
    lo, hi = PROBE_RATIO_CLAMP
    violations: dict[str, dict[str, float]] = {}
    for name, sec in cells.items():
        if name not in bands:
            continue
        band_sec, band_probe = bands[name]
        scale = min(hi, max(lo, (cpu_probe_end or band_probe) / band_probe))
        threshold = BAND_FACTOR * band_sec * scale
        if sec > threshold:
            violations[name] = {
                "sec": sec,
                "band": band_sec,
                "band_probe": band_probe,
                "threshold": round(threshold, 3),
            }

    record = {
        "metric": "scale_total",
        "value": round(sum(cells.values()), 3),
        "unit": "sec",
        "cells": cells,
        "corpus_key": corpus_key,
        "n_docs": n_docs,
        "repeat": repeat,
        "round": round_no,
        "cpu_probe_sec": cpu_probe,
        "cpu_probe_sec_end": cpu_probe_end,
        "probe_divergent": probe_divergent,
        # hypervisor CPU-steal percentage across the run (r13): the
        # confound load_avg can't see — see bench._steal_snapshot
        "steal_pct": _steal_pct(steal_t0, _steal_snapshot()),
        "load_avg_t0": load_t0,
        "load_avg_end": round(os.getloadavg()[0], 2),
        "wall_sec": round(time.perf_counter() - t_wall0, 1),
        "band_factor": BAND_FACTOR,
        "n_bands": len(bands),
        "band_violations": violations,
    }
    with open(out, "w") as f:
        json.dump(record, f, indent=2)
    print(json.dumps(record))
    sys.stdout.flush()
    return 1 if (violations and not probe_divergent) else 0


if __name__ == "__main__":
    raise SystemExit(main())
