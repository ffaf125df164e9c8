"""Spill audit for the similarity/ANN family at 100× (VERDICT r11 task 6)
— closing the loop the r11 round closed for the eight dedup heavies.

Fixture: the ANN scale replication of BASELINE.md (vec_id shift, identical
vectors per replica — constant IVF geometry, only volume grows) over the
sf0.1 embeddings base; 100× = 200k vectors. Measured ops, at the
catalog/bench operating points:

- ``ivf_topk``          16 lists / 8 probes / 5 queries (inline Lloyd)
- ``build_ivf_index``   16 lists, partitionBy(list_id) corpus write
- ``ivf_index_topk``    8-probe partition-pruned probe of that index
- ``binary_hamming_topk``  1-bit signatures, 5 queries
- ``embedding_cosine_pairs``  blocked exact all-pairs (n_blocks=8,
  threshold 0.9) — the distributed BLAS default path

Per op: run once warm, then read every stage completed in the
measurement window from the Spark UI REST API (port 4049, the
measure_shuffle_bytes discipline) and report shuffle-write bytes/rows
and memory+disk spill per stage. The spill owner is often the stage
UPSTREAM of an exchange, so the table lists all stages in the window,
largest writer first. Exit code 1 if any stage spilled.

Usage: python tools/measure_ann_spill.py [sf_dir] [--mult 100]
"""

from __future__ import annotations

import json
import sys
import urllib.request

sys.path.insert(0, ".")
sys.path.insert(0, "tools")

from _stress_common import materialize, timed  # noqa: E402

UI_PORT = 4049


def _rest(path: str):
    url = f"http://localhost:{UI_PORT}/api/v1/{path}"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read().decode())


def _app_id() -> str:
    return _rest("applications")[0]["id"]


def _stages(app: str) -> dict[int, dict]:
    out = {}
    for st in _rest(f"applications/{app}/stages?status=COMPLETE"):
        sid = st["stageId"]
        if sid not in out or st["attemptId"] > out[sid]["attemptId"]:
            out[sid] = st
    return out


def main() -> int:
    # skip '--flag' tokens AND their values: '--mult 50' must not read
    # '50' as the positional sf_dir (r12 review)
    args, skip = [], False
    for a in sys.argv[1:]:
        if skip:
            skip = False
        elif a.startswith("--"):
            skip = True
        else:
            args.append(a)
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    mult = 100
    for i, a in enumerate(sys.argv):
        if a == "--mult" and i + 1 < len(sys.argv):
            mult = int(sys.argv[i + 1])

    from pyspark.sql import functions as F  # noqa: N812

    from aws_cli_data_pipeline_tools_spark.operators import dedup, similarity
    from aws_cli_data_pipeline_tools_spark.session import get_spark
    from aws_cli_data_pipeline_tools_spark.sources import load_table, scratch_dir

    spark = get_spark(
        app_name="measure-ann-spill",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": str(UI_PORT),
            "spark.ui.retainedStages": "4000",
        },
    )
    app = _app_id()
    base = load_table(spark, "embeddings", sf_dir).select("vec_id", "embedding")
    queries = (
        base.filter(F.col("vec_id") % 400 == 0)
        .limit(5)
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .persist()
    )
    queries.count()
    shift = 10_000_000

    corpus = materialize(
        base.select(
            "vec_id",
            "embedding",
            F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("_rep"),
        ).select(
            (
                F.col("vec_id").cast("long")
                + F.col("_rep").cast("long") * F.lit(shift).cast("long")
            ).alias("vec_id"),
            "embedding",
        )
    )
    n = corpus.count()
    print(f"==== {mult}x embedding corpus: {n} vectors ====", flush=True)

    idx = scratch_dir("sparkgraft-ann-spill-ivf")

    def sink(df) -> int:
        if df is not None:
            df.write.format("noop").mode("overwrite").save()
        return -1

    kernels = {
        "ivf_topk": lambda: sink(
            similarity.ivf_topk(
                corpus, queries, k=10, n_centroids=16, n_probe=8,
                query_id_col="query_id",
            )
        ),
        "build_ivf_index": lambda: sink(
            similarity.build_ivf_index(corpus, idx, n_centroids=16)
        ),
        "ivf_index_topk": lambda: sink(
            similarity.ivf_index_topk(
                spark, idx, queries, k=10, n_probe=8, query_id_col="query_id"
            )
        ),
        "binary_hamming_topk": lambda: sink(
            similarity.binary_hamming_topk(
                corpus, queries, k=10, dim=64, query_id_col="query_id"
            )
        ),
        "embedding_cosine_pairs_blocked": lambda: sink(
            # shipped auto block sizing (the r12 audit killed the old
            # fixed n_blocks=8 here: 25k-row blocks → 5 GB sims/group)
            dedup.embedding_cosine_pairs(corpus, threshold=0.9, n_planes=0)
        ),
    }

    total_spill = {}
    for op, fn in kernels.items():
        before = set(_stages(app))
        secs = timed(f"{op}@{mult}x", fn)
        after = _stages(app)
        new = [after[s] for s in sorted(set(after) - before)]
        rows, op_spill = [], 0
        for st in new:
            wb = st.get("shuffleWriteBytes", 0)
            wr = st.get("shuffleWriteRecords", 0)
            sp = st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
            op_spill += sp
            if wr > 0 or sp > 0:
                rows.append(
                    (wb, wr, sp, st["stageId"], (st.get("name") or "")[:70])
                )
        rows.sort(reverse=True)
        total_spill[op] = {"spill_mb": round(op_spill / 1e6, 1), "sec": round(secs, 2)}
        print(f"\n-- {op} @ {mult}x: shuffle-writing/spilling stages --")
        for wb, wr, sp, sid, name in rows:
            brow = f"{wb/wr:>7.1f}" if wr else "      -"
            print(
                f"  stage {sid:>5}  {wb/1e6:>10.1f} MB  "
                f"{wr:>12,} rows  {brow} B/row  "
                f"spill {sp/1e6:>8.1f} MB  {name}"
            )

    print("\n==== summary ====")
    print(json.dumps({"mult": mult, "n_vectors": n, "ops": total_spill}))
    return 1 if any(v["spill_mb"] > 0 for v in total_spill.values()) else 0


if __name__ == "__main__":
    raise SystemExit(main())
