"""Recall-vs-candidate-fraction curve for LSH/IVF ANN on the
planted-cluster fixture (catalog.llmops.clustered_embeddings).

The BASELINE.md near-random curves measure the WORST case (isotropic
vectors, neighbors at cosine ≈ 0.28 — high recall intrinsically costs a
large candidate fraction). This tool measures the production-shaped case
the docstrings point to: 32 planted clusters at within-cluster cosine
≈ 0.9, where the same LSH family should reach recall ≥ 0.9 at a
single-digit candidate fraction. Output: one markdown table per family
for BASELINE.md.

Usage: python tools/ann_clustered_curve.py [sf_dir]
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import duckdb
    from pyspark.sql import functions as F

    from aws_cli_data_pipeline_tools_spark.catalog.llmops import (
        _duck_cosine,
        duck_clustered_cte,
    )
    from aws_cli_data_pipeline_tools_spark.operators import similarity
    from aws_cli_data_pipeline_tools_spark.operators.similarity import (
        _bucketize_portable,
        lsh_parity_planes,
    )
    from aws_cli_data_pipeline_tools_spark.session import get_spark
    from aws_cli_data_pipeline_tools_spark.catalog.llmops import (
        clustered_embeddings,
    )

    spark = get_spark(app_name="ann_clustered_curve")
    emb = clustered_embeddings(spark, sf_dir).cache()
    n_corpus = emb.count()
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    exact_sql = f"""
WITH cv AS ({duck_clustered_cte()}),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM cv WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_duck_cosine('q.qv', 'c.embedding')} AS cosine
  FROM q CROSS JOIN cv c
), r AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (
           PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, neighbor_id FROM r WHERE rank <= 10
"""
    exact: dict[int, set[int]] = {}
    for qid, nid in con.sql(exact_sql).fetchall():
        exact.setdefault(qid, set()).add(nid)
    denom = sum(len(v) for v in exact.values())

    def recall(df) -> float:
        got: dict[int, set[int]] = {}
        for r in df.collect():
            got.setdefault(r[0], set()).add(r[1])
        return sum(len(got.get(q, set()) & exact[q]) for q in exact) / denom

    print(f"corpus={n_corpus} queries={len(exact)} sf_dir={sf_dir}")
    print("\nLSH (md5-parity hyperplanes) on clustered fixture:")
    print("| planes | tables | cand_frac | recall@10 |")
    print("|---|---|---|---|")
    for planes, tables in [(6, 4), (8, 4), (8, 8), (8, 16), (10, 16),
                           (12, 16), (10, 32)]:
        # lsh_ann_topk's planes at its default seed=7
        pl = lsh_parity_planes(64, planes, tables, "lsh-v1|7")
        c_b = _bucketize_portable(
            emb.select(F.col("vec_id").alias("neighbor_id"),
                       F.col("embedding").alias("cv")),
            "neighbor_id", "cv", pl)
        q_b = _bucketize_portable(
            queries.select("query_id", F.col("embedding").alias("qv")),
            "query_id", "qv", pl)
        n_cand = (
            F.broadcast(q_b).join(c_b, ["table", "bucket"])
            .select("query_id", "neighbor_id").distinct().count()
        )
        frac = n_cand / (len(exact) * n_corpus)
        top = similarity.lsh_ann_topk(
            emb, queries, k=10, n_planes=planes, n_tables=tables,
            query_id_col="query_id", dim=64)
        print(f"| {planes} | {tables} | {frac:.3f} | {recall(top):.3f} |")

    print("\nIVF (16 spherical-kmeans lists) on clustered fixture:")
    print("| n_probe | probed_frac | recall@10 |")
    print("|---|---|---|")
    for n_probe in (1, 2, 4, 8):
        top = similarity.ivf_topk(
            emb, queries, k=10, n_centroids=16, n_probe=n_probe,
            query_id_col="query_id")
        print(f"| {n_probe} | {n_probe / 16:.3f} | {recall(top):.3f} |")


if __name__ == "__main__":
    main()
