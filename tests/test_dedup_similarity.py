"""Dedup + similarity operators on planted duplicates and fixtures."""

import pytest
from pyspark.sql import functions as F

from aws_cli_data_pipeline_tools_spark.operators import dedup, similarity
from aws_cli_data_pipeline_tools_spark.sources import load_table


@pytest.fixture(scope="module")
def planted(spark):
    """Corpus with exact dup (1,2), near dup (3,4), permuted dup (5,6)."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    rows = [
        (1, base),
        (2, base),
        (3, base + " mu nu xi"),
        (4, near + " mu nu xi"),
        (5, "one two three four five six"),
        (6, "six five four three two one"),
        (7, "totally different words entirely unrelated content here"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_dedup(spark, planted):
    out = dedup.exact_dedup(planted, ["text"], "doc_id")
    kept = {r.doc_id for r in out.collect()}
    assert 1 in kept and 2 not in kept
    assert kept >= {3, 4, 5, 6, 7}


def test_exact_dedup_null_keys_form_one_group(spark):
    rows = [(1, None), (2, None), (3, "x"), (4, "x"), (5, None)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    kept = {r.doc_id for r in dedup.exact_dedup(df, ["text"], "doc_id").collect()}
    # NULL-key rows dedupe as one group (min id kept), not silently dropped
    assert kept == {1, 3}


def test_canonical_dedup_catches_permutation(planted):
    out = {r.doc_id: r for r in dedup.canonical_text_dedup(planted).collect()}
    assert out[5].canon_hash == out[6].canon_hash
    assert out[6].keeper_id == 5 and not out[6].is_keeper
    assert out[1].canon_hash == out[2].canon_hash
    assert out[3].canon_hash != out[4].canon_hash


def test_ngram_jaccard_pairs(planted):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(planted, k=3, threshold=0.4).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (3, 4) in pairs and 0.4 <= pairs[(3, 4)] < 1.0
    assert not any(7 in p for p in pairs)


def test_minhash_matches_exact_jaccard(planted):
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(planted, k=3, threshold=0.5).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r
        for r in dedup.minhash_lsh_pairs(
            planted, k=3, num_perm=64, bands=32, threshold=0.5
        ).collect()
    }
    assert set(lsh) == exact  # verification makes candidates exact
    assert lsh[(1, 2)].est_jaccard == 1.0


def test_minhash_matches_exact_on_fixture(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            docs, k=3, num_perm=64, bands=32, threshold=0.5
        ).collect()
    }
    assert lsh == exact


def test_line_dedup_c4_semantics(spark):
    """Global first-occurrence wins; within-doc repeats dedup too; docs
    reduced to nothing come back empty; line order is preserved."""
    docs = spark.createDataFrame(
        [
            (1, "alpha one\nboiler plate\nalpha two"),
            (2, "boiler plate\nbeta one\nboiler plate"),
            (3, "boiler plate"),
            (4, "gamma\ngamma\ngamma two"),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in dedup.line_dedup(docs).collect()}
    assert out[1].text_dedup == "alpha one\nboiler plate\nalpha two"
    assert (out[1].n_lines, out[1].n_kept) == (3, 3)
    # doc 2: boiler first seen in doc 1; its own internal repeat also drops
    assert out[2].text_dedup == "beta one"
    assert (out[2].n_lines, out[2].n_kept) == (3, 1)
    # doc 3 loses its only line entirely
    assert (out[3].n_kept, out[3].text_dedup) == (0, "")
    # doc 4: internal duplicate collapses to the first position
    assert out[4].text_dedup == "gamma\ngamma two"


def test_line_dedup_regex_metachar_separator(spark):
    """r8 review: F.split takes a Java regex but the reassembly join is
    literal — a '|' separator used to split between EVERY character and
    glue garbage back. The separator must be treated literally end to
    end."""
    docs = spark.createDataFrame(
        [(1, "alpha|boiler|beta"), (2, "boiler|gamma")],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: r for r in dedup.line_dedup(docs, sep="|").collect()
    }
    assert (out[1].n_lines, out[1].n_kept) == (3, 3)
    assert out[1].text_dedup == "alpha|boiler|beta"
    assert out[2].text_dedup == "gamma"  # boiler first seen in doc 1


def test_default_hashing_matches_duckdb_oracles(spark, sf_dir):
    """With default arguments, MinHash-LSH and SimHash return exactly the
    rows of the dedup_minhash_lsh / dedup_simhash DuckDB oracles: there
    is one (md5-derived) hash family, so the library default IS the
    oracle-checked construction, est_jaccard included."""
    import duckdb

    from aws_cli_data_pipeline_tools_spark.catalog import all_specs

    docs = load_table(spark, "documents", sf_dir)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{sf_dir}/documents.parquet'"
    )
    specs = all_specs()
    for name, got in (
        (
            "dedup_minhash_lsh",
            dedup.minhash_lsh_pairs(
                docs, k=3, num_perm=64, bands=32, threshold=0.5
            ),
        ),
        ("dedup_simhash", dedup.simhash_pairs(docs, max_hamming=3)),
    ):
        want = con.sql(specs[name].oracle).fetchall()
        assert want, name
        assert [tuple(r) for r in got.collect()] == want, name
    # planted identical/permuted docs are still at distance 0
    planted = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
            (3, "zeta epsilon delta gamma beta alpha"),
        ],
        "doc_id bigint, text string",
    )
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_pairs(planted, max_hamming=3).collect()
    }
    assert pairs[(1, 2)] == 0 and pairs[(1, 3)] == 0


def test_portable_hash64_matches_duckdb(spark):
    """The Spark conv(md5) expression and the DuckDB hex-cast twin must
    agree value-for-value — the foundation of every portable-hash oracle."""
    import duckdb

    from aws_cli_data_pipeline_tools_spark.functions import portable_hash64

    vals = ["", "a", "alpha beta gamma", "日本語", "x" * 500]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    got = {r.s: r.h for r in df.select("s", portable_hash64(F.col("s")).alias("h")).collect()}
    con = duckdb.connect()
    for v in vals:
        want = con.execute(
            "SELECT CAST(concat('0x', substr(md5(?), 1, 15)) AS BIGINT)", [v]
        ).fetchone()[0]
        assert got[v] == want, v


def test_simhash_identical_distance_zero(planted):
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in dedup.simhash_pairs(planted, max_hamming=3).collect()
    }
    assert pairs[(1, 2)] == 0
    # permuted docs: simhash is order-insensitive → also distance 0
    assert pairs[(5, 6)] == 0


def test_embedding_cosine_pairs_threshold(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),  # near-dup of 1
        (3, [0.0, 1.0, 0.0]),     # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = {(r.id_a, r.id_b): r.cosine for r in dedup.embedding_cosine_pairs(df, threshold=0.9).collect()}
    assert list(out) == [(1, 2)]
    assert out[(1, 2)] > 0.999


def test_embedding_cosine_blocked_matches_broadcast(spark, sf_dir):
    """The distributed block matmul (engine default) must produce exactly the
    broadcast reference's pairs (``_cosine_pairs_matmul``) — and must never
    materialize the corpus on the driver (VERDICT r01 item 2)."""
    import inspect

    emb = load_table(spark, "embeddings", sf_dir).limit(200)
    blocked = dedup.embedding_cosine_pairs(emb, threshold=0.3, n_blocks=4)
    base = dedup._cosine_pairs_matmul(emb, "vec_id", "embedding", 0.3)
    b = {(r.id_a, r.id_b): r.cosine for r in blocked.collect()}
    e = {(r.id_a, r.id_b): r.cosine for r in base.collect()}
    assert b == e and len(b) > 0

    src = inspect.getsource(dedup._cosine_pairs_blocked)
    assert "toPandas" not in src and ".collect(" not in src


def test_partition_topk_prunes_before_final_window(spark, sf_dir):
    """Plan shape: the per-query window runs over the mapInPandas-pruned set,
    not the full scored crossjoin (VERDICT r01 item 3)."""
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = similarity.cosine_topk(emb, q, k=5)._jdf.queryExecution().toString()
    # partial top-k (Python/Arrow eval) must sit below the window in the plan
    assert plan.index("Window") < plan.index("MapInPandas") or (
        "MapInPandas" in plan and "Window" in plan
    )
    # stronger: walk the optimized plan string — window's child chain must
    # contain the MapInPandas node (window input is the pruned set)
    optimized = plan.split("== Physical Plan ==")[-1]
    assert "MapInPandas" in optimized
    assert optimized.index("Window") < optimized.index("MapInPandas")


def test_cosine_topk_self_first(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.cosine_topk(emb, q, k=5)
    first = {r.query_id: r for r in out.filter(F.col("rank") == 1).collect()}
    for qid, r in first.items():
        assert r.neighbor_id == qid and r.cosine == 1.0


def test_lsh_ann_recall(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(emb, q, k=10)
    # the registered ann_lsh_topk operating point (BASELINE.md recall
    # curve): fixture embeddings are near-random (true neighbors at
    # cosine ~0.28, i.e. ~74 deg), where 5 planes x 16 tables measures
    # recall@10 = 0.76 at ~0.4 candidate fraction with the md5-parity
    # planes. Real corpora with actual near-dups sit far right of this
    # curve at far lower cost. The DuckDB oracle of ann_lsh_topk verifies
    # replay fidelity, not retrieval quality, so a seed/bucket change
    # that cratered recall would still hash-match — this floor owns it.
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    ap = {
        (r.query_id, r.neighbor_id)
        for r in similarity.lsh_ann_topk(
            emb, q, k=10, n_planes=5, n_tables=16, dim=64
        ).collect()
    }
    assert len(e & ap) / len(e) >= 0.7
    # self-match must always be found (identical vector → same buckets)
    assert all((qid, qid) in ap for qid in range(10))


def test_ivf_ann_recall_and_determinism(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = similarity.cosine_topk(emb, q, k=10)
    approx = similarity.ivf_topk(emb, q, k=10, n_centroids=8, n_probe=3)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    rows1 = approx.collect()
    a = {(r.query_id, r.neighbor_id) for r in rows1}
    recall = len(e & a) / len(e)
    # probing 3/8 of a data-adaptive partition: on the near-random fixture
    # the probed lists hold ~3/8 of the corpus, and true top-10 neighbors
    # concentrate in the query's own region, so recall lands well above the
    # 3/8 mass fraction. Bound is set loose for seeding variance.
    assert recall >= 0.45
    # self-match: the query's own vector shares its nearest list (probe 1)
    assert all((qid, qid) in a for qid in range(10))
    # deterministic: seeded centroids + argmax assignment → identical rerun
    rows2 = similarity.ivf_topk(emb, q, k=10, n_centroids=8, n_probe=3).collect()
    assert sorted(map(tuple, rows1)) == sorted(map(tuple, rows2))


def test_ivf_index_persisted_prunes_partitions(spark, sf_dir, tmp_path):
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, idx, n_centroids=8)
    got = similarity.ivf_index_topk(spark, idx, q, k=10, n_probe=3)
    # identical results to the inline operator with the same parameters
    inline = similarity.ivf_topk(emb, q, k=10, n_centroids=8, n_probe=3)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, inline.collect()))
    # the probe scan is partition-pruned: the corpus FileScan must carry a
    # PartitionFilters entry on list_id (static IN-list from the probes)
    plan = got._jdf.queryExecution().executedPlan().toString()
    import re as _re

    assert _re.search(r"PartitionFilters: \[list_id#\d+ IN \(", plan)
    import glob as _g
    # physical layout: one subdir per list
    assert len(_g.glob(f"{idx}/corpus/list_id=*")) == 8


def test_minhash_index_probe_matches_selfjoin_cross_pairs(spark, sf_dir, tmp_path):
    """Probe of a batch against the persisted index must find exactly the
    corpus×batch slice of the full LSH self-join over corpus ∪ batch
    (same k/num_perm/bands/seed ⇒ same buckets, same verified Jaccard)."""
    docs = load_table(spark, "documents", sf_dir)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)

    dedup.build_minhash_index(corpus, str(tmp_path / "idx"))
    probe = {
        (r.corpus_id, r.batch_id, r.jaccard)
        for r in dedup.minhash_index_probe(
            spark, str(tmp_path / "idx"), batch
        ).collect()
    }

    batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    full = dedup.minhash_lsh_pairs(docs).collect()
    cross = {
        (r.id_a, r.id_b, r.jaccard) if r.id_b in batch_ids
        else (r.id_b, r.id_a, r.jaccard)
        for r in full
        if (r.id_a in batch_ids) != (r.id_b in batch_ids)
    }
    assert probe == cross


def test_minhash_index_probe_finds_planted_near_dup(spark, tmp_path):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa mu nu xi"
    corpus = spark.createDataFrame(
        [(1, base), (2, "totally different words entirely unrelated here")],
        "doc_id bigint, text string",
    )
    batch = spark.createDataFrame(
        [(100, base + " omicron"), (101, "more unrelated nonsense follows")],
        "doc_id bigint, text string",
    )
    dedup.build_minhash_index(corpus, str(tmp_path / "idx"))
    out = dedup.minhash_index_probe(spark, str(tmp_path / "idx"), batch).collect()
    assert [(r.corpus_id, r.batch_id) for r in out] == [(1, 100)]
    assert out[0].jaccard > 0.5


def test_quantize_int8_bounds_and_zero_vector(spark):
    from aws_cli_data_pipeline_tools_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0])],
        "vec_id bigint, embedding array<float>",
    )
    got = {r.vec_id: r for r in quantize_int8(df).collect()}
    assert got[1].scale == 1.0
    assert got[1].qvec == [64, -127, 32]  # round(0.5*127)=64 (half-up), max->127
    assert got[2].scale == 0.0 and got[2].qvec == [0, 0, 0]


def test_int8_topk_self_first(spark, sf_dir):
    from aws_cli_data_pipeline_tools_spark.operators.similarity import int8_topk
    from aws_cli_data_pipeline_tools_spark.sources import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = int8_topk(emb, queries, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rows in by_q.items():
        assert len(rows) == 5
        assert rows[0].neighbor_id == qid  # self dot is maximal
        dots = [r.dot for r in rows]
        assert dots == sorted(dots, reverse=True)


def test_kmeans_clusters_deterministic_and_sane(spark, sf_dir):
    from aws_cli_data_pipeline_tools_spark.operators.similarity import kmeans_clusters
    from aws_cli_data_pipeline_tools_spark.sources import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    a = kmeans_clusters(emb, n_centroids=8).collect()
    b = kmeans_clusters(emb, n_centroids=8).collect()
    assert sorted((r.vec_id, r.list_id) for r in a) == sorted(
        (r.vec_id, r.list_id) for r in b
    )
    assert {r.list_id for r in a} <= set(range(8))
    assert len(a) == emb.count()  # every vector labeled exactly once
    assert all(r.cos_to_centroid is not None for r in a)


def test_kmeans_clusters_portable_matches_semantics(spark, sf_dir):
    """The engine-portable spherical k-means (decimal-sum discipline,
    md5-parity seeding — VERDICT r11 task 4a) must be deterministic,
    label every non-null vector exactly once, and produce sane cosines;
    exact DuckDB parity is covered by the embedding_cluster_profile
    oracle."""
    from aws_cli_data_pipeline_tools_spark.operators.similarity import (
        kmeans_clusters,
    )
    from aws_cli_data_pipeline_tools_spark.sources import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    out1 = kmeans_clusters(emb, n_centroids=8)
    out2 = kmeans_clusters(emb, n_centroids=8)
    a = out1.collect()
    b = out2.collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert {r.list_id for r in a} <= set(range(8))
    assert len(a) == emb.filter(F.col("embedding").isNotNull()).count()
    assert all(
        r.cos_to_centroid is None or -1.0 <= r.cos_to_centroid <= 1.0
        for r in a
    )
    # spherical k-means pulls vectors toward their own centroid: the
    # size-weighted mean cosine must be positive
    n = len(a)
    assert sum(r.cos_to_centroid for r in a if r.cos_to_centroid) / n > 0.0


def test_lsh_ann_topk_portable_contract(spark, sf_dir):
    """The md5-parity planes with integer sign sums (VERDICT r11 task 4b)
    must keep the LSH contract: deterministic output, self-match
    always retrieved, ranks dense from 1; exact DuckDB parity is covered
    by the ann_lsh_topk oracle."""
    from aws_cli_data_pipeline_tools_spark.operators.similarity import (
        lsh_ann_topk,
    )
    from aws_cli_data_pipeline_tools_spark.sources import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = lsh_ann_topk(
        emb, queries, k=5, n_planes=5, n_tables=16,
        query_id_col="query_id", dim=64,
    ).collect()
    again = lsh_ann_topk(
        emb, queries, k=5, n_planes=5, n_tables=16,
        query_id_col="query_id", dim=64,
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2}
    for qid, rows in by_q.items():
        # the query vector is in the corpus: identical buckets in every
        # table, cosine 1.0 — must rank first
        assert rows[0].neighbor_id == qid and rows[0].rank == 1
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))


def test_ivf_topk_portable_contract_and_recall(spark, sf_dir):
    """ivf_topk (r13, VERDICT r12 task 2b — the exact-oracle
    construction behind the graduated ann_ivf_topk): must be
    deterministic, retrieve every self-match at rank 1 with dense ranks,
    and keep the retrieval-quality floor the retired check_oracle
    invariant used to assert — recall@10 ≥ 0.7 vs brute-force cosine at
    the catalog operating point (16 lists / 8 probes; measured 0.82 at
    sf0.001, 0.78-0.80 at sf0.01 per BASELINE.md). The DuckDB oracle
    verifies REPLAY fidelity; this test owns retrieval quality."""
    from aws_cli_data_pipeline_tools_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )
    from aws_cli_data_pipeline_tools_spark.sources import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(
        emb, queries, k=10, n_centroids=16, n_probe=8,
        query_id_col="query_id",
    ).collect()
    again = ivf_topk(
        emb, queries, k=10, n_centroids=16, n_probe=8,
        query_id_col="query_id",
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for qid, rows in by_q.items():
        assert rows[0].neighbor_id == qid and rows[0].rank == 1
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(emb, queries, k=10, query_id_col="query_id")
        .collect()
    }
    got = {(r.query_id, r.neighbor_id) for r in out}
    recall = len(got & exact) / len(exact)
    assert recall >= 0.7, f"portable IVF recall@10 {recall:.2f} < 0.7"


def test_lsh_clustered_portable_recall(spark, sf_dir):
    """The graduated ann_lsh_topk_clustered operating point (10 planes ×
    16 tables, portable md5-parity planes) must keep its production-
    shaped recall floor vs brute-force cosine on the planted-cluster
    corpus — the quality claim the retired check_oracle invariant
    asserted (measured 1.00 at sf0.001 and sf0.01; floor 0.9 leaves
    5 hits of headroom). Replay fidelity is the DuckDB oracle's job."""
    from aws_cli_data_pipeline_tools_spark.catalog.llmops import (
        clustered_embeddings,
    )
    from aws_cli_data_pipeline_tools_spark.operators.similarity import (
        cosine_topk,
        lsh_ann_topk,
    )

    ce = clustered_embeddings(spark, sf_dir)
    queries = ce.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(ce, queries, k=10, query_id_col="query_id")
        .collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in lsh_ann_topk(
            ce, queries, k=10, n_planes=10, n_tables=16,
            query_id_col="query_id", dim=64,
        ).collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, f"clustered LSH recall@10 {recall:.2f} < 0.9"


def test_ivf_clustered_portable_recall(spark, sf_dir):
    """The graduated ann_ivf_topk_clustered operating point (16 portable
    Lloyd lists, n_probe=1 — each query reads 1/16 of the corpus) must
    keep its production-shaped recall floor vs brute-force cosine on the
    planted-cluster corpus — the quality claim the retired check_oracle
    invariant asserted (floor 0.9, the invariant's bound; the decimal-
    exact Lloyd steps converge to the planted partition). Replay
    fidelity is the DuckDB oracle's job."""
    from aws_cli_data_pipeline_tools_spark.catalog.llmops import (
        clustered_embeddings,
    )
    from aws_cli_data_pipeline_tools_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )

    ce = clustered_embeddings(spark, sf_dir)
    queries = ce.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(ce, queries, k=10, query_id_col="query_id")
        .collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(
            ce, queries, k=10, n_centroids=16, n_probe=1,
            query_id_col="query_id",
        ).collect()
    }
    # self-match must always be retrievable at this operating point
    for q in {0, 1, 2, 3, 4}:
        assert (q, q) in got, f"self-match missing for query {q}"
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, f"clustered portable IVF recall@10 {recall:.2f} < 0.9"


def test_ngram_jaccard_prefix_filter_parity(spark, sf_dir):
    """PPJoin prefix filtering must reproduce the plain inverted-index
    result exactly (same pairs, same jaccard values)."""
    from aws_cli_data_pipeline_tools_spark.sources import load_table

    docs = load_table(spark, "documents", sf_dir)
    plain = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()
    )
    pref = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(
            docs, k=3, threshold=0.5, prefix_filter=True
        ).collect()
    )
    assert plain == pref and len(plain) > 0
    # auto mode (r11 default) must also match bit-for-bit — on this
    # below-the-knee fixture it resolves to plain via the zero-probe
    # plan-size gate, the pre-auto default path
    auto = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(
            docs, k=3, threshold=0.5, prefix_filter="auto"
        ).collect()
    )
    assert auto == plain


def test_ngram_prefix_auto_density_rule(spark):
    """prefix_filter='auto' decision inputs (r11, VERDICT r10 task 5):
    the two capped-index statistics must separate the measured regimes.
    A 10-replica duplicate-dense corpus reads density ~0.9 (plain's
    regime regardless of fanout); a disjoint-shingle corpus reads ~0;
    a shared-phrase corpus reads low density with fanout tracking the
    phrase document frequency — the signal the calibration cells
    showed density alone cannot see (plain won 2.6× at fanout 25,
    prefix won at 150). The decision stays plain below the plan-size
    knee regardless of the statistics."""
    rows_dense = []
    for g in range(20):
        text = " ".join(f"g{g}w{i}" for i in range(30))
        for rep in range(10):
            rows_dense.append((g * 100 + rep, text))
    dense = spark.createDataFrame(rows_dense, "doc_id int, text string")
    rows_uniq = [
        (i, " ".join(f"d{i}w{j}" for j in range(30))) for i in range(200)
    ]
    uniq = spark.createDataFrame(rows_uniq, "doc_id int, text string")

    d_dense, f_dense = dedup._ngram_index_stats(dense, "text", 3, 1000)
    d_uniq, f_uniq = dedup._ngram_index_stats(uniq, "text", 3, 1000)
    assert d_dense > dedup._PREFIX_AUTO_DENSITY, d_dense
    assert d_uniq < dedup._PREFIX_AUTO_DENSITY, d_uniq
    # 10-replica groups: weighted mean df ≈ 10; unique corpus ≈ 1
    assert 8 <= f_dense <= 12, f_dense
    assert f_uniq < 2, f_uniq

    # the rule itself, on the four anchoring regimes
    assert dedup._prefix_auto_choice(0.9, 10.0) is False  # dup-dense
    assert dedup._prefix_auto_choice(0.17, 25.0) is False  # cheap pairs: plain won 2.6×
    assert dedup._prefix_auto_choice(0.17, 150.0) is True  # expensive pairs
    assert dedup._prefix_auto_choice(0.99, 500.0) is False  # big dup groups
    assert dedup._prefix_auto_choice(None, None) is False  # empty

    # over-cap stop shingles must not vote: a corpus whose only repeats
    # are boilerplate above max_bucket reads as LOW density
    rows_boiler = [
        (i, "the same boilerplate header " + " ".join(f"b{i}x{j}" for j in range(20)))
        for i in range(60)
    ]
    boiler = spark.createDataFrame(rows_boiler, "doc_id int, text string")
    d_capped = dedup._ngram_dup_density(boiler, "text", 3, 50)
    d_uncapped = dedup._ngram_dup_density(boiler, "text", 3, 0)
    assert d_capped < d_uncapped

    # below the knee the gate decides (False = plain), with no density job
    assert dedup._prefix_auto_decision(uniq, "text", 3, 1000) is False

    # empty corpus → None stats, plain
    empty = spark.createDataFrame([], "doc_id int, text string")
    assert dedup._ngram_index_stats(empty, "text", 3, 1000) == (
        None,
        None,
    )


def test_cosine_auto_blocks_sizing(spark):
    """r12 ANN spill audit: the per-group sims matrix is (rows/B)²·8 B,
    so the block count must grow with the corpus — the old fixed 8 made
    5 GB groups at 200k vectors. Below the plan-size gate the default 8
    is chosen with zero jobs; above it, blocks cap at ~_COSINE_BLOCK_ROWS
    rows each."""
    small = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(50)],
        "vec_id bigint, embedding array<double>",
    )
    assert dedup._cosine_auto_blocks(small) == 8
    # force the above-gate path regardless of the plan estimate
    orig = dedup._plan_size_bytes
    dedup._plan_size_bytes = lambda df: int(
        dedup._COSINE_GATE_ROWS * 0.5 + 1
    )
    try:
        big = spark.range(0, 100_000).select(
            F.col("id").alias("vec_id"),
            F.array(F.lit(1.0), F.lit(2.0)).alias("embedding"),
        )
        want = -(-100_000 // dedup._COSINE_BLOCK_ROWS)
        assert 8 < want < dedup._COSINE_MAX_BLOCKS
        assert dedup._cosine_auto_blocks(big) == want
        assert dedup._cosine_auto_blocks(small) == 8  # max(8, ceil) floor
        # the cap: unbounded B inlines B^2 plan literals and shuffles
        # B*n vector replicas — huge counts clamp (r12 review); the
        # kernel's tiling carries the memory bound past the cap
        huge = spark.range(0, 10_000_000).select(
            F.col("id").alias("vec_id"),
            F.array(F.lit(1.0)).alias("embedding"),
        )
        assert dedup._cosine_auto_blocks(huge) == dedup._COSINE_MAX_BLOCKS
    finally:
        dedup._plan_size_bytes = orig


def test_mode_string_params_validated(spark, planted):
    """Truthy strings other than 'auto' must raise, not silently pin a
    path (prefix_filter) or die in an opaque str-vs-int comparison
    (simhash n_blocks) — ADVICE r11."""
    with pytest.raises(ValueError, match="prefix_filter"):
        dedup.ngram_jaccard_pairs(planted, prefix_filter="atuo")
    with pytest.raises(ValueError, match="n_blocks"):
        dedup.simhash_pairs(planted, n_blocks="atuo")
    # the valid spellings still work (analysis-only: no action run)
    dedup.ngram_jaccard_pairs(planted, prefix_filter=False)
    dedup.simhash_pairs(planted, n_blocks=None)


def test_shared_span_pairs_detects_long_common_substring(spark):
    from aws_cli_data_pipeline_tools_spark.operators.dedup import (
        shared_span_pairs,
    )

    common = "this exact forty-character span is shared!"  # 42 chars
    df = spark.createDataFrame(
        [
            (1, "prefix one " + common + " tail a"),
            (2, "other start " + common + " different end"),
            (3, "no overlap with anyone at all here truly"),
            (4, "short"),
        ],
        "doc_id bigint, text string",
    )
    pairs = shared_span_pairs(df, span=32).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(1, 2)]
    # the shared region includes both flanking spaces: 44 chars → 13 windows
    assert pairs[0].n_shared_windows == 44 - 32 + 1
    # rolling-hash kernel: identical pairs AND identical window counts
    rpairs = shared_span_pairs(df, span=32, rolling=True).collect()
    assert [(r.id_a, r.id_b, r.n_shared_windows) for r in rpairs] == [
        (1, 2, 44 - 32 + 1)
    ]
    # non-ASCII chars: rolling hashes utf-32 code points, matching the
    # JVM path's character-based substr windows
    dfu = spark.createDataFrame(
        [
            (1, "Ünïcødé prefix → " + common + " tail"),
            (2, "αβγ start " + common + " Ω end"),
        ],
        "doc_id bigint, text string",
    )
    assert sorted(
        map(tuple, shared_span_pairs(dfu, span=32, rolling=True).collect())
    ) == sorted(map(tuple, shared_span_pairs(dfu, span=32).collect()))
    # boundary: a doc of EXACTLY span chars yields one window; the
    # rolling kernel's prefix arithmetic must agree with the JVM path
    exact32 = "x" * 32
    dfe = spark.createDataFrame(
        [(1, exact32), (2, "pad " + exact32)], "doc_id bigint, text string"
    )
    for kw in ({}, {"rolling": True}):
        e = shared_span_pairs(dfe, span=32, **kw).collect()
        assert [(r.id_a, r.id_b, r.n_shared_windows) for r in e] == [(1, 2, 1)]
    # hot-window cap: a window present in ALL docs gets dropped
    boiler = "B" * 40
    df2 = spark.createDataFrame(
        [(i, f"doc {i} unique part {i} " + boiler) for i in range(6)],
        "doc_id bigint, text string",
    )
    capped = shared_span_pairs(df2, span=32, max_postings=3).count()
    assert capped == 0  # boilerplate window exceeded cap → no pairs
    assert shared_span_pairs(df2, span=32, max_postings=3, rolling=True).count() == 0
    uncapped = shared_span_pairs(df2, span=32).count()
    assert uncapped == 15  # all C(6,2) pairs without the cap


def test_random_projection_jl_distortion(spark, sf_dir):
    """The projected vectors must (a) replay deterministically, (b)
    preserve pairwise geometry in the JL sense: the squared-distance
    estimator is UNBIASED with relative std ~ sqrt(2/16) = 35%, so on
    near-random vectors (whose true distances concentrate — correlation
    is the wrong metric there) the per-pair ratio d_proj/d_orig must
    center on 1 with bounded spread."""
    import numpy as np

    emb = load_table(spark, "embeddings", sf_dir).filter(F.col("vec_id") < 40)
    out = similarity.random_projection(emb, out_dim=16).collect()
    P = np.zeros((40, 16))
    for r in out:
        P[r["vec_id"], r["j"]] = r["value"]
    X = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64)
         for r in emb.orderBy("vec_id").collect()]
    )
    ratios = []
    for a in range(0, 40, 3):
        for b in range(a + 1, 40, 3):
            do = ((X[a] - X[b]) ** 2).sum()
            dp = ((P[a] - P[b]) ** 2).sum()
            if do > 0:
                ratios.append(dp / do)
    ratios = np.asarray(ratios)
    assert 0.85 < ratios.mean() < 1.15, ratios.mean()
    assert ratios.std() < 0.5, ratios.std()
    # deterministic rerun
    again = similarity.random_projection(emb, out_dim=16).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


# ---------------------------------------------------------------- round 4 ops

def test_rrf_fuse_hand_computed(spark):
    from aws_cli_data_pipeline_tools_spark.operators.similarity import rrf_fuse

    lex = spark.createDataFrame(
        [(10, 1), (20, 2), (30, 3)], "doc_id bigint, rank int"
    )
    sem = spark.createDataFrame(
        [(20, 1), (40, 2)], "doc_id bigint, rank int"
    )
    out = {r.doc_id: r for r in rrf_fuse({"lex": lex, "sem": sem}, k=60, top=10).collect()}
    # doc 20 appears in both lists: 1/62 + 1/61
    assert abs(out[20].rrf_score - round(1 / 62 + 1 / 61, 6)) < 1e-9
    # docs present in one list only contribute a single term
    assert abs(out[10].rrf_score - round(1 / 61, 6)) < 1e-9
    assert abs(out[40].rrf_score - round(1 / 62, 6)) < 1e-9
    assert out[20].rank == 1  # two-list doc wins
    # missing rank columns surface as NULLs, not zeros
    assert out[10].rank_sem is None and out[40].rank_lex is None


def test_hard_negatives_excludes_same_label(spark):
    from aws_cli_data_pipeline_tools_spark.operators.similarity import (
        hard_negatives,
    )

    rows = [
        (0, [1.0, 0.0], "en"),   # query
        (1, [0.99, 0.1], "en"),  # nearest overall but SAME label → excluded
        (2, [0.9, 0.2], "fr"),   # nearest different-label → rank 1
        (3, [0.0, 1.0], "fr"),   # orthogonal, rank 2
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, label string"
    )
    q = df.filter("vec_id = 0").selectExpr(
        "vec_id AS query_id", "embedding", "label"
    )
    got = hard_negatives(df, q, k=10).collect()
    assert [r.neighbor_id for r in got] == [2, 3]
    assert all(r.neighbor_label == "fr" for r in got)


def test_semdedup_drops_identical_vector(spark):
    from aws_cli_data_pipeline_tools_spark.operators.dedup import semdedup_jl

    v = [0.5, -0.25, 0.125, 1.0]
    rows = [
        (1, v),
        (7, v),                       # exact dup of 1 → dropped, keeper 1
        (9, [-x for x in v]),         # antipodal → different bucket
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    got = semdedup_jl(df, threshold=0.9, n_bits=8).collect()
    assert len(got) == 1
    assert got[0].vec_id == 7 and got[0].keeper_id == 1
    assert got[0].max_cosine == 1.0


def test_jl_sign_buckets_deterministic(spark):
    from aws_cli_data_pipeline_tools_spark.operators.similarity import (
        jl_sign_buckets,
    )

    df = spark.createDataFrame(
        [(i, [float(i) / 7, -float(i % 3), 0.25]) for i in range(20)],
        "vec_id bigint, embedding array<double>",
    )
    a = {r.vec_id: r.bucket for r in jl_sign_buckets(df, n_bits=6).collect()}
    b = {r.vec_id: r.bucket for r in jl_sign_buckets(df, n_bits=6).collect()}
    assert a == b
    assert all(0 <= v < 64 for v in a.values())
    # identical vectors always co-bucket (the semdedup recall guarantee)
    assert a[0] is not None


def test_jl_literal_signs_equal_expression_form(spark):
    from aws_cli_data_pipeline_tools_spark.operators.similarity import (
        jl_sign_buckets,
        random_projection,
    )

    df = spark.createDataFrame(
        [
            (i, [((i * 37 + d * 11) % 19 - 9) / 7.0 for d in range(12)])
            for i in range(30)
        ],
        "vec_id bigint, embedding array<double>",
    )
    slow = random_projection(df, out_dim=16).orderBy("vec_id", "j").collect()
    fast = (
        random_projection(df, out_dim=16, dim=12)
        .orderBy("vec_id", "j")
        .collect()
    )
    assert [tuple(r) for r in slow] == [tuple(r) for r in fast]
    bs = {r.vec_id: r.bucket for r in jl_sign_buckets(df, n_bits=8).collect()}
    bf = {
        r.vec_id: r.bucket
        for r in jl_sign_buckets(df, n_bits=8, dim=12).collect()
    }
    assert bs == bf


def test_hits_hand_computed_star(spark):
    """Star graph: hub h → {a1, a2}; second hub h2 → {a1}. After any
    number of iterations a1 (2 in-links incl. the stronger hub) must be
    the top authority and h the top hub (it links both authorities)."""
    from aws_cli_data_pipeline_tools_spark.operators.graph import (
        hits_fixed_point,
    )

    edges = spark.createDataFrame(
        [(100, 1), (100, 2), (200, 1)], "src bigint, dst bigint"
    )
    got = {r.node: r for r in hits_fixed_point(edges, iters=2).collect()}
    assert got[1].auth == 1_000_000          # max-normalized top authority
    assert got[100].hub == 1_000_000         # top hub
    assert got[2].auth < got[1].auth
    assert got[200].hub < got[100].hub
    assert got[1].hub == 0 and got[100].auth == 0  # pure sources/sinks


def test_graph_normalization_survives_mega_hub(spark, monkeypatch):
    """r8 review: the max-normalization (r × PPM DIV m) and the pagerank
    damping product overflowed BIGINT once a node's raw mass exceeded
    ~9.2e18/PPM — an ANSI crash for any authority with in-degree beyond
    ~9.2M, i.e. exactly the web-graph hubs the operators target. Shrink
    the boundary into test range by raising PPM to 1e9: a 20-in-degree
    authority then drives r×PPM to 2e19 > int64 max, which the old
    BIGINT expression could not represent; the decimal(38,0)
    intermediate must return the exact normalized ranks."""
    from aws_cli_data_pipeline_tools_spark.operators import graph

    monkeypatch.setattr(graph, "PPM", 10**9)
    edges = spark.createDataFrame(
        [(i, 1) for i in range(100, 120)] + [(100, 2)],
        "src bigint, dst bigint",
    )
    got = {
        r.node: r for r in graph.hits_fixed_point(edges, iters=1).collect()
    }
    assert got[1].auth == 10**9  # 20-hub authority, max-normalized
    assert 0 < got[2].auth < got[1].auth
    pr = {
        r.node: r.pr
        for r in graph.pagerank_fixed_point(edges, iters=2).collect()
    }
    assert pr[1] == max(pr.values())  # the mega-hub ranks top, no crash


def test_binary_hamming_known_vectors(spark):
    from aws_cli_data_pipeline_tools_spark.operators.similarity import (
        binary_hamming_topk,
    )

    v = [1.0] * 64
    flip8 = [1.0] * 56 + [-1.0] * 8
    neg = [-1.0] * 64
    df = spark.createDataFrame(
        [(0, v), (1, flip8), (2, neg)],
        "vec_id bigint, embedding array<double>",
    )
    q = df.filter("vec_id = 0").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    got = binary_hamming_topk(df, q, k=3, dim=64).collect()
    assert [(r.neighbor_id, r.hamming_dist) for r in got] == [
        (0, 0), (1, 8), (2, 64),
    ]


def test_mmr_rerank_truncates_when_pool_smaller_than_k(spark):
    """k > candidate count must yield the shorter selection, not a
    TypeError mid-greedy (r4 ADVICE)."""
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )
    q = corpus.filter("vec_id = 0").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    got = similarity.mmr_rerank(corpus, q, k=10, pool=50).collect()
    assert len(got) == 3  # every candidate selected, then graceful stop
    assert [r.step for r in got] == [1, 2, 3]
    assert got[0].doc_id == 0  # first pick = pure relevance (self)


def test_mmr_rerank_string_ids_and_single_query_contract(spark):
    """r8 review: the output schema hardcoded doc_id bigint (string ids
    crashed at createDataFrame), and a multi-row queries frame silently
    merged all pools into one mixed ranking instead of erroring."""
    import pytest

    rows = [
        ("a", [1.0, 0.0, 0.0]),
        ("b", [0.9, 0.1, 0.0]),
        ("c", [0.0, 1.0, 0.0]),
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id string, embedding array<double>"
    )
    q = corpus.filter("vec_id = 'a'").selectExpr(
        "vec_id AS query_id", "embedding"
    )
    got = similarity.mmr_rerank(corpus, q, k=2, pool=50).collect()
    assert [r.doc_id for r in got][0] == "a"  # string ids flow through
    assert got[0].rel_cosine == 1.0
    with pytest.raises(ValueError, match="single-query"):
        similarity.mmr_rerank(corpus, corpus.selectExpr(
            "vec_id AS query_id", "embedding"
        ), k=2)


def test_embedding_cosine_pairs_lsh_matches_exact_on_near_dups(spark):
    """r8 review: the n_planes>0 path (routed through similarity's
    vectorized _bucketize_portable) must still find the planted near-duplicates
    the exact path finds — same-orthant vectors always share a bucket."""
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),   # near-dup of 1, same orthant
        (3, [0.0, 1.0, 0.0]),
        (4, [0.001, 0.999, 0.0]),  # near-dup of 3
        (5, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.embedding_cosine_pairs(df, threshold=0.95).collect()
    }
    lsh = {
        (r.id_a, r.id_b): r.cosine
        for r in dedup.embedding_cosine_pairs(
            df, threshold=0.95, n_planes=6, dim=3
        ).collect()
    }
    assert exact == {(1, 2), (3, 4)}
    assert set(lsh) == exact  # LSH recall on planted same-orthant dups
    assert all(c >= 0.95 for c in lsh.values())


def test_word_shingles_ignore_surrounding_whitespace(spark):
    """r8 review: leading/trailing whitespace minted phantom '' tokens that
    changed the shingle set — two texts identical up to padding missed
    each other in every Jaccard/MinHash/SimHash consumer. Tokenization
    now drops empty tokens on both engines."""
    from aws_cli_data_pipeline_tools_spark.functions import word_shingles

    df = spark.createDataFrame(
        [(1, "a b c"), (2, " a b c"), (3, "a b c "), (4, "\ta b\nc ")],
        "doc_id bigint, text string",
    )
    got = {
        r.doc_id: tuple(r.sh)
        for r in df.select(
            "doc_id", word_shingles(F.col("text"), 3).alias("sh")
        ).collect()
    }
    assert got[1] == ("a b c",)
    assert got[2] == got[1] and got[3] == got[1] and got[4] == got[1]
    # and the padded twins now actually pair up in the jaccard operator
    pairs = dedup.ngram_jaccard_pairs(df, threshold=0.99, k=3).collect()
    assert {(r.id_a, r.id_b) for r in pairs} >= {(1, 2), (1, 3), (1, 4)}


def test_minhash_arrow_null_array_yields_sentinel(spark):
    """r8 review: a NULL hash-array row crashed the Arrow MinHash UDF
    (np.asarray(None)) while the expression twin returned the all-p
    sentinel — the two paths must agree on the null contract."""
    from aws_cli_data_pipeline_tools_spark.functions import (
        MINHASH_PRIME,
        minhash_signature_from_hashes,
        minhash_signatures_arrow,
    )

    df = spark.createDataFrame(
        [(1, [5, 9]), (2, None), (3, [])],
        "doc_id bigint, hsh array<bigint>",
    )
    arrow = {
        r.doc_id: tuple(r.sig)
        for r in df.select(
            "doc_id", minhash_signatures_arrow(8)(F.col("hsh")).alias("sig")
        ).collect()
    }
    expr = {
        r.doc_id: tuple(r.sig)
        for r in df.withColumn(
            "hsh", F.coalesce(F.col("hsh"), F.array().cast("array<bigint>"))
        ).select(
            "doc_id",
            minhash_signature_from_hashes(F.col("hsh"), 8).alias("sig"),
        ).collect()
    }
    assert arrow == expr
    assert arrow[2] == (MINHASH_PRIME,) * 8  # sentinel, not a crash


def test_volume_adaptive_posting_width(spark):
    """VERDICT r8 task 3: the span-posting exchange derives its width
    from docs × avg_len when the corpus is past the knee, keeps the
    session default (returns None) below it, and never pays a probe
    action on provably-small inputs (the plan-size gate)."""
    from aws_cli_data_pipeline_tools_spark.operators import dedup

    # pure width math: below default → None; above → proportional; clamped
    assert dedup._width_for_bytes(1024, default=32) is None
    assert dedup._width_for_bytes(32 * (64 << 20), default=32) == 33
    big = dedup._width_for_bytes(float(1 << 60), default=32)
    assert big == dedup._MAX_POSTING_WIDTH

    # a tiny corpus: gated out (None) — and today's plan stays untouched
    docs = spark.createDataFrame(
        [(i, "lorem ipsum dolor sit amet " * 3) for i in range(50)],
        "doc_id bigint, text string",
    )
    assert dedup._span_posting_width(docs, "text") is None
    pairs = dedup.shared_span_pairs(docs, span=32, max_postings=64)
    assert pairs.count() > 0  # 50 identical docs all pair up

    # the exact probe: 2M docs × 200 chars ≈ 19 GB sort working set at
    # 48 B/char → width must widen past a 32-partition default and track
    # volume linearly (2× the docs → ~2× the width)
    wide = spark.range(0, 2_000_000).selectExpr(
        "id AS doc_id", "repeat('x', 200) AS text"
    )
    w1 = dedup._span_posting_width(wide, "text")
    assert w1 is not None and w1 > 32
    wider = spark.range(0, 4_000_000).selectExpr(
        "id AS doc_id", "repeat('x', 200) AS text"
    )
    w2 = dedup._span_posting_width(wider, "text")
    assert w2 is not None and 1.8 * w1 <= w2 <= 2.2 * w1


def test_span_posting_width_single_exchange_plan(spark):
    """When the volume probe widens the posting exchange, the JVM path's
    physical plan must carry the explicit width on a hashpartitioning of
    the join key AND run the DISTINCT without its own exchange (hash on
    {g} satisfies clustering on (id, g)) — the posting volume crosses
    exactly one shuffle (r9 review: the original after-distinct
    placement left the saturated default exchange in place and added a
    second full shuffle)."""
    import re as _re

    docs = spark.range(0, 600).selectExpr(
        "id AS doc_id", "repeat('substring-fixture ', 4) AS text"
    )
    out = dedup.shared_span_pairs(docs, span=32, max_postings=0)
    default = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # force the width path deterministically for the plan assertion
    from aws_cli_data_pipeline_tools_spark.operators import dedup as _d

    posting = docs.selectExpr("doc_id AS id", "explode(array(1L, 2L)) AS g")
    width = default + 7
    plan = (
        posting.repartition(width, "g")
        .distinct()
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the explicit exchange carries the derived width...
    assert _re.search(rf"hashpartitioning\(g#\d+L?, {width}\)", plan)
    # ...and it is the ONLY exchange: the distinct aggregate reuses it
    assert plan.count("Exchange") == 1
    # sanity on the real operator: tiny corpus → gate keeps plan untouched
    full = out._jdf.queryExecution().executedPlan().toString()
    assert not _re.search(rf"hashpartitioning\(g#\d+L?, {default + 7}\)", full)


def test_similarity_r9_review_fixes(spark):
    """r9 package review: (a) mmr_rerank must not crash on zero-norm
    vectors (NULL cosine); (b) jl_sign_buckets with a wrong `dim` must
    raise, not silently bucket everything to 0; (c) quantize_int8 stores
    1-byte elements and int8_topk still scores exactly; (d) perfect-
    square out_dims take the exact integer path (fast ≡ slow form);
    (e) NaN scores rank worst (as NULL) regardless of partitioning;
    (f) binary_hamming_topk rejects non-multiple-of-32 dims loudly."""
    import math

    from pyspark.sql import functions as F  # noqa: F811

    rows = [(i, [float((i * 7 + j * 3) % 11 - 5) for j in range(8)])
            for i in range(20)]
    rows.append((20, [0.0] * 8))  # zero-norm vector
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    # (a) zero vector present: no TypeError, zero vec never selected
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.mmr_rerank(emb, q, k=5, pool=10)
    picked = [r["doc_id"] for r in got.collect()]
    assert len(picked) == 5 and 20 not in picked

    # (b) wrong dim raises in-plan (raise_error), right dim works
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError

    with _pytest.raises(Exception) as ei:
        similarity.jl_sign_buckets(emb, n_bits=4, dim=16).collect()
    assert "jl_sign_buckets" in str(ei.value)
    ok = similarity.jl_sign_buckets(emb, n_bits=4, dim=8)
    assert ok.filter(F.col("bucket").isNull()).count() == 0

    # (c) tinyint storage + exact integer scoring
    qz = similarity.quantize_int8(emb)
    assert qz.schema["qvec"].dataType.simpleString() == "array<tinyint>"
    topk = similarity.int8_topk(emb, q, k=3)
    r0 = topk.filter(F.col("rank") == 1).collect()[0]
    assert r0["neighbor_id"] == 0  # self-match maximal dot

    # (d) perfect-square out_dim: literal-sign fast path == md5 slow path
    fast = similarity.random_projection(emb, out_dim=4, dim=8)
    slow = similarity.random_projection(emb, out_dim=4)
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, slow.collect())
    )

    # (e) a NaN embedding must rank WORST (NULL score), not first
    nan_rows = rows[:5] + [(99, [math.nan] * 8)]
    nan_emb = spark.createDataFrame(
        nan_rows, "vec_id bigint, embedding array<double>"
    ).repartition(4)
    got = similarity.cosine_topk(nan_emb, q.limit(1), k=6)
    recs = {r["neighbor_id"]: (r["rank"], r["cosine"]) for r in got.collect()}
    assert recs[99][0] == max(r for r, _ in recs.values())  # last
    assert recs[99][1] is None  # NaN normalized to NULL

    # (f) loud dim contract
    with _pytest.raises(ValueError, match="multiple of 32"):
        similarity.binary_hamming_topk(emb, q, dim=48)


def test_partition_topk_preserves_float_schema_r10(spark):
    """r10 ADVICE: the NaN->NULL normalization must not widen a
    FloatType score column to double — consumers see the input type."""
    import math

    from pyspark.sql.types import FloatType

    df = spark.createDataFrame(
        [(1, 10, float("nan")), (1, 11, 0.5), (1, 12, 0.9)],
        "query_id int, neighbor_id int, cosine float",
    )
    out = similarity._partition_topk(df, k=2)
    assert isinstance(out.schema["cosine"].dataType, FloatType)
    rows = {r.neighbor_id: r.cosine for r in out.collect()}
    # NaN normalized to NULL and pruned below the two real scores
    assert 10 not in rows or rows[10] is None
    assert math.isclose(rows[12], 0.9, rel_tol=1e-6)


def test_minhash_band_width_gate_per_doc_r10(spark):
    """r10 ADVICE: the banding-exchange gate is per-doc (count-only
    probe) — a short-doc corpus must not skip the probe that a
    112-char-avg assumption would have skipped. Unit-level: the
    per-doc model ignores avg length and sizes purely from n."""
    from aws_cli_data_pipeline_tools_spark.operators.dedup import (
        _probed_posting_width,
        _width_for_bytes,
    )

    df = spark.createDataFrame(
        [(i, "ab") for i in range(50)], "doc_id bigint, text string"
    )
    # tiny corpus: plan gate or probe must conclude "keep default plan"
    assert (
        _probed_posting_width(
            df, "text", lambda n, avg: n * 16 * 56.0,
            gate_bytes_per_char=16 * 56.0 / 16.0, probe_avg=False,
        )
        is None
    )
    # the width math itself: 10M short docs at bands=16 -> widens past 32
    assert _width_for_bytes(10_000_000 * 16 * 56.0, 32) > 32


def test_token_posting_width_zero_probe_below_knee_r10(spark, monkeypatch):
    """VERDICT r9 task 1 done-condition: at bench scale (sf0.1) the
    plan-size gate must conclude 'below the knee' WITHOUT running any
    probe job — the bench queries keep their exact plans. Asserted by
    making count() explode: the gate must short-circuit first."""
    import os

    from pyspark.sql import DataFrame as SDF

    sf01 = "/root/testdata/sf0.1"
    if not os.path.exists(os.path.join(sf01, "documents.parquet")):
        pytest.skip("sf0.1 testdata absent")
    docs = load_table(spark, "documents", sf01).select("doc_id", "text")

    def boom(self):
        raise AssertionError("probe job ran below the knee")

    monkeypatch.setattr(SDF, "count", boom)
    # shingle-posting model (prefix path) and the token-string model
    # (tfidf) both gate out at sf0.1 with zero probe jobs
    assert dedup._token_posting_width(docs, "text") is None
    assert dedup._token_posting_width(docs, "text", bytes_per_token=64.0) is None
    monkeypatch.undo()
    # the dual-width helper's gate includes _PAIR_VOLUME_FACTOR, so at
    # sf0.1 it runs the (cheap) probe — and must conclude both volumes
    # are below their knees, leaving every bench plan unchanged
    assert dedup._token_posting_widths(docs, "text") == (None, None)

    # width math for an above-the-knee corpus: 50M docs x 1000 chars at
    # 56 B per 5-char token ~= 560 GB working set -> far wider than 32
    w = dedup._width_for_bytes(50e6 * (1000 / 5.0) * 56.0, 32)
    assert w > 32


def test_ngram_paths_parity_with_width_forced_r10(spark, sf_dir):
    """Forcing the width path (monkeypatched probe) must not change any
    pair or score: the repartition is placement-only. Covers the plain
    index, the PPJoin prefix path, containment, and tfidf cosine."""
    docs = load_table(spark, "documents", sf_dir).select("doc_id", "text")

    baseline = {
        "jac": dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect(),
        "pre": dedup.ngram_jaccard_pairs(
            docs, threshold=0.3, prefix_filter=True
        ).collect(),
        "con": dedup.ngram_containment_pairs(docs, threshold=0.5).collect(),
        "tfi": dedup.tfidf_cosine_pairs(docs, threshold=0.4).collect(),
    }
    assert len(baseline["jac"]) > 0  # fixture has near-dups

    real_probe = dedup._probed_widths
    try:
        # force odd widths through the shared probe (covers both the
        # single- and dual-width helpers)
        dedup._probed_widths = lambda src, tc, models, *a, **k: [7] * len(models)
        forced = {
            "jac": dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect(),
            "pre": dedup.ngram_jaccard_pairs(
                docs, threshold=0.3, prefix_filter=True
            ).collect(),
            "con": dedup.ngram_containment_pairs(docs, threshold=0.5).collect(),
            "tfi": dedup.tfidf_cosine_pairs(docs, threshold=0.4).collect(),
        }
    finally:
        dedup._probed_widths = real_probe
    for key in baseline:
        assert forced[key] == baseline[key], key


def test_null_embeddings_dropped_not_crashing(spark):
    """A NULL embedding used to kill the whole task inside the numpy
    kernels (np.stack over a batch containing None) in every
    bucketize/centroid/assign path; the contract is now a documented
    drop — NULL vectors can never be neighbors (r10 review)."""
    from pyspark.sql import functions as F

    from aws_cli_data_pipeline_tools_spark.operators import (
        dedup as D,
        similarity as SIM,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0]) for i in range(1, 8)]
        + [(8, [0.0, 0.0, 0.0]), (9, None)],
        "vec_id int, embedding array<double>",
    )
    q = spark.createDataFrame(
        [(0, [1.0, 0.5, 0.0])], "query_id int, embedding array<double>"
    )
    # exact blocked and LSH paths of embedding_cosine_pairs
    for kw in ({"n_blocks": 2}, {"n_planes": 4, "dim": 3}):
        out = D.embedding_cosine_pairs(vecs, threshold=0.5, **kw).collect()
        assert all(r.id_a != 9 and r.id_b != 9 for r in out), kw
    got = SIM.lsh_ann_topk(vecs, q, k=3, n_planes=4, n_tables=2, dim=3).collect()
    assert all(r.neighbor_id != 9 for r in got)
    got = SIM.ivf_topk(vecs, q, k=3, n_centroids=2, n_probe=2).collect()
    assert all(r.neighbor_id != 9 for r in got)
    labels = SIM.kmeans_clusters(vecs, n_centroids=2).collect()
    assert len(labels) == 8  # the 8 non-NULL vectors, NULL dropped
    # all-NULL probe raises a clear contract error instead of TypeError
    allnull = spark.createDataFrame(
        [(1, None)], "vec_id int, embedding array<double>"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="dim"):
        D.embedding_cosine_pairs(allnull, threshold=0.5, n_planes=4)


def test_line_dedup_null_text_reports_zero_lines(spark):
    """NULL-text docs must appear in the per-doc output with n_lines=0
    (the old exploded-volume totals aggregate silently dropped them);
    the totals projection is also one keyed shuffle cheaper (r10)."""
    from aws_cli_data_pipeline_tools_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [(1, "a\nb\nc"), (2, None), (3, ""), (4, "a\nd")],
        "doc_id int, text string",
    )
    out = {r.doc_id: r for r in line_dedup(docs).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[2].n_lines == 0 and out[2].n_kept == 0 and out[2].text_dedup == ""
    assert out[1].n_lines == 3 and out[1].n_kept == 3
    assert out[4].n_kept == 1 and out[4].text_dedup == "d"  # 'a' deduped


def test_source_overlap_width_on_off_identical(spark, monkeypatch):
    """source_overlap_matrix's volume-adaptive posting width (r10) is a
    plan-only change: forcing the width on must leave the overlap
    counts bit-identical to the default-width plan."""
    rows = []
    for i in range(60):
        words = " ".join(f"w{(i * 7 + j) % 40}" for j in range(12))
        rows.append((i, words, f"s{i % 4}"))
    df = spark.createDataFrame(rows, "doc_id int, text string, source string")
    base = {
        (r.source_a, r.source_b): r.n_shared_grams
        for r in dedup.source_overlap_matrix(df, n=3).collect()
    }
    monkeypatch.setattr(dedup, "_token_posting_width", lambda *a, **k: 48)
    wide = {
        (r.source_a, r.source_b): r.n_shared_grams
        for r in dedup.source_overlap_matrix(df, n=3).collect()
    }
    assert base == wide and len(base) > 0


def test_ngram_jaccard_prefix_parity_randomized(spark):
    """Seeded randomized parity of the plain inverted-index path vs the
    PPJoin prefix-filtered path (the docstring's losslessness claim),
    over adversarial corpora: hot boilerplate shingles (cap pressure),
    short docs (length-filter boundary), self-repeated text (pre-
    distinct duplicate shingles), exact dups, and NULL/empty docs.
    Also locks the containment operator's <=1 bound on the same corpora
    (r10 session differential test, made permanent)."""
    import random

    boiler = "hot1 hot2 hot3"
    for seed in (7, 23, 99):
        rnd = random.Random(seed)
        vocab = [f"w{i}" for i in range(25)]
        rows = []
        for i in range(150):
            words = [rnd.choice(vocab) for _ in range(rnd.randint(1, 11))]
            txt = " ".join(words)
            if i % 3 == 0:
                txt = boiler + " " + txt
            if i % 7 == 0:
                txt = txt + " " + txt
            rows.append((i, txt))
        rows += [(1000 + i, rows[i][1]) for i in range(8)]  # exact dups
        rows += [(2000, None), (2001, ""), (2002, "   ")]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        plain = {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup.ngram_jaccard_pairs(
                df, threshold=0.3, max_bucket=15
            ).collect()
        }
        pref = {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup.ngram_jaccard_pairs(
                df, threshold=0.3, max_bucket=15, prefix_filter=True
            ).collect()
        }
        assert plain == pref and len(plain) > 0, seed
        cont = dedup.ngram_containment_pairs(
            df, threshold=0.0, max_bucket=15
        ).collect()
        assert all(
            r.containment is None or r.containment <= 1.0 for r in cont
        ), seed


def test_simhash_combination_blocking_identical_output(spark):
    """n_blocks=6/8 combination-key blocking must emit EXACTLY the
    default pigeonhole path's verified pairs (both are lossless candidate
    generators over the same signatures; the exact hamming verify makes
    any candidate-set difference invisible only if recall is complete —
    set equality proves it). Guard: n_blocks <= max_hamming rejected."""
    import random

    rnd = random.Random(5)
    vocab = [f"tok{i}" for i in range(400)]
    rows = []
    for i in range(250):
        words = [rnd.choice(vocab) for _ in range(40)]
        rows.append((i, " ".join(words)))
        if i % 10 == 0:
            mutated = list(words)
            mutated[3] = rnd.choice(vocab)
            rows.append((10000 + i, " ".join(mutated)))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    base = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.simhash_pairs(df, max_hamming=3).collect()
    }
    assert len(base) > 0
    for b in (6, 8):
        combo = {
            (r.id_a, r.id_b, r.hamming)
            for r in dedup.simhash_pairs(
                df, max_hamming=3, n_blocks=b
            ).collect()
        }
        assert combo == base, b
    import pytest as _pytest

    with _pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_pairs(df, max_hamming=3, n_blocks=2)
    # upper bound (r11 ADVICE): >16 COMBINATION blocks → sub-4-bit
    # keys; >64 blocks → zero-width constant keys = silent all-pairs
    for bad in (17, 65, 128):
        with _pytest.raises(ValueError, match="4 bits"):
            dedup.simhash_pairs(df, max_hamming=3, n_blocks=bad)
    # ...but the explicit PIGEONHOLE MINIMUM at large d is the same
    # configuration the default runs — it must not raise (r11 review:
    # rejecting the explicit spelling of the default was incoherent)
    dedup.simhash_pairs(df, max_hamming=16, n_blocks=17)  # plan builds

    # n_blocks="auto" (r11 default): below the 10M-doc knee the
    # plan-size gate resolves to the pigeonhole default with zero jobs,
    # and the output matches the explicit-default run bit-for-bit
    assert dedup._simhash_auto_blocks(df, 3) is None
    auto = {
        (r.id_a, r.id_b, r.hamming)
        for r in dedup.simhash_pairs(df, max_hamming=3).collect()
    }
    assert auto == base
    # combination blocks would be sub-4-bit at max_hamming > 13 → the
    # auto mode falls back to pigeonhole rather than violating the guard
    assert dedup._simhash_auto_blocks(df, 14) is None


def test_normalize_centroid_matrix_matches_distributed_decimal(spark):
    # adversarial magnitudes: tiny, large, negative, zero row
    cents = [
        [0.1, -0.25, 3.75, 1e-7],
        [123456.789, -0.0001, 2.5, 9.99],
        [0.0, 0.0, 0.0, 0.0],
    ]
    got = similarity._normalize_centroid_matrix(spark, cents)
    # distributed reference: the decimal group-sum normalize the rewrite
    # replaced (sqrt(CAST(sum(CAST(c*c AS DECIMAL(38,10))) AS DOUBLE)))
    rows = [
        (li, pos, float(v))
        for li, cv in enumerate(cents)
        for pos, v in enumerate(cv)
    ]
    c = spark.createDataFrame(rows, "list_id int, pos int, c double")
    nrm = c.groupBy("list_id").agg(
        F.sqrt(
            F.sum((F.col("c") * F.col("c")).cast("decimal(38,10)")).cast(
                "double"
            )
        ).alias("nrm")
    )
    ref_rows = (
        c.join(nrm, "list_id")
        .select(
            "list_id",
            "pos",
            F.when(F.col("nrm") > 0, F.col("c") / F.col("nrm"))
            .otherwise(F.col("c"))
            .alias("c"),
        )
        .collect()
    )
    ref: dict[tuple[int, int], float] = {
        (r["list_id"], r["pos"]): r["c"] for r in ref_rows
    }
    for li, cv in enumerate(got):
        for pos, v in enumerate(cv):
            assert v == ref[(li, pos)], (li, pos)  # bit-exact, no tolerance


def test_centroid_literal_array_roundtrips_exact_doubles(spark):
    vals = [0.1 + 0.2, 1e-300, -1.7976931348623157e308, 3.141592653589793]
    row = (
        spark.sql("SELECT 1 AS z")
        .select(similarity._centroid_literal_array(vals).alias("a"))
        .collect()[0]
    )
    assert list(row["a"]) == vals  # repr round-trip is exact


def test_ivf_nullsafe_join_matches_equijoin_with_null_vectors(spark):
    # corpus with a NULL embedding row: under the old equi-join the null
    # vector was dropped by the isNotNull filter; the null-safe join with
    # a probe-side not-null filter must produce the identical top-k
    import random

    random.seed(7)
    rows = [
        (i, [random.uniform(-1, 1) for _ in range(8)]) for i in range(40)
    ]
    rows.append((99, None))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ivf_topk(
        emb, queries, k=5, n_centroids=4, n_probe=2,
        query_id_col="query_id",
    ).collect()
    ids = {r["neighbor_id"] for r in out}
    assert 99 not in ids  # the null-vector row can never be a candidate
    assert {r["query_id"] for r in out} == {0, 1, 2}
    # ranks are dense 1..k per query with a total tie-break order
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q


def _r13_trainer_replica(spark, corpus, id_col, vec_col, k, iters):
    """Inline replica of the r13 trainer shape (seed collect →
    _normalize_centroid_matrix → per-iter means collect →
    _normalize_centroid_matrix) — the reference the r14 folded-action
    trainer must match float-for-float."""
    from aws_cli_data_pipeline_tools_spark.functions import portable_hash64

    src = corpus.filter(F.col(vec_col).isNotNull())
    ph = portable_hash64(F.col(id_col).cast("string"))
    seed_rows = (
        src.select(
            F.col(id_col).alias("id"),
            ph.alias("__ph"),
            F.col(vec_col).alias("__v"),
        )
        .orderBy("__ph", "id")
        .limit(k)
        .collect()
    )
    cents = similarity._normalize_centroid_matrix(
        spark, [[float(x) for x in r["__v"]] for r in seed_rows]
    )
    for _ in range(iters):
        assigned = src.select(
            F.col(vec_col).alias("__v"),
            F.element_at(
                similarity._portable_ranked_lists(vec_col, cents), 1
            )["list_id"].alias("list_id"),
        )
        mean_rows = (
            assigned.select(
                "list_id", F.posexplode("__v").alias("pos", "xf")
            )
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
        cents = similarity._normalize_centroid_matrix(spark, merged)
    return cents


def test_folded_trainer_matches_r13_shape_common_path(spark):
    import random

    random.seed(17)
    emb = spark.createDataFrame(
        [(i, [random.uniform(-1, 1) for _ in range(8)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    got = similarity._portable_centroid_literals(
        emb, "vec_id", "embedding", 4, 2
    )
    ref = _r13_trainer_replica(spark, emb, "vec_id", "embedding", 4, 2)
    assert got == ref  # bit-exact, no tolerance


def test_folded_trainer_matches_r13_shape_empty_cluster(spark):
    # two identical vectors, k=2: the argmax tie sends both rows to
    # list 0, list 1 is empty → the fallback (legacy exact) branch runs
    emb = spark.createDataFrame(
        [(1, [1.0, 0.5]), (2, [1.0, 0.5])],
        "vec_id long, embedding array<float>",
    )
    got = similarity._portable_centroid_literals(
        emb, "vec_id", "embedding", 2, 2
    )
    ref = _r13_trainer_replica(spark, emb, "vec_id", "embedding", 2, 2)
    assert got == ref


def test_folded_trainer_matches_r13_shape_ragged_vectors(spark):
    # vectors of different lengths: mean positions can be missing or
    # extend past the centroid dim, either of which must route through
    # the fallback — and in all cases equal the r13 replica exactly
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.25]),
            (2, [0.5, -1.0, 2.0, 4.0]),
            (3, [0.0, 3.0, -2.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    for k in (1, 2):
        got = similarity._portable_centroid_literals(
            emb, "vec_id", "embedding", k, 2
        )
        ref = _r13_trainer_replica(spark, emb, "vec_id", "embedding", k, 2)
        assert got == ref, k


def test_band_entries_sql_parse_matches_column_form(spark):
    # r14: minhash_band_entries builds its bands-wide struct array via
    # ONE SQL parse; keys must equal the r13 Column-API form exactly
    from aws_cli_data_pipeline_tools_spark.operators import dedup

    sides = spark.createDataFrame(
        [(1, list(range(64))), (2, [7 * i + 3 for i in range(64)])],
        "id long, sig array<long>",
    )
    got = sorted(
        tuple(r) for r in dedup.minhash_band_entries(sides, 64, 32).collect()
    )
    rpb = 2
    ref = sorted(
        tuple(r)
        for r in sides.select(
            "id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.xxhash64(
                                F.slice("sig", b * rpb + 1, rpb)
                            ).alias("bkey"),
                        )
                        for b in range(32)
                    ]
                )
            ).alias("bk"),
        )
        .select("id", "bk.band", "bk.bkey")
        .collect()
    )
    assert got == ref


def test_double_array_sql_nonfinite_literals(spark):
    import math

    vals = [float("nan"), float("inf"), float("-inf"), 0.1 + 0.2]
    row = (
        spark.sql("SELECT 1 AS z")
        .select(F.expr(similarity._double_array_sql(vals)).alias("a"))
        .collect()[0]
    )
    got = list(row["a"])
    assert math.isnan(got[0])
    assert got[1] == float("inf")
    assert got[2] == float("-inf")
    assert got[3] == 0.1 + 0.2


def test_ivf_topk_nested_vector_column(spark):
    """A dotted vec_col names a nested field, as with F.col: ivf_topk over
    a struct<embedding: array<float>> column returns the flat column's
    rows (ADVICE r14)."""
    import random

    random.seed(5)
    flat = spark.createDataFrame(
        [(i, [random.uniform(-1, 1) for _ in range(8)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    nested = flat.select("vec_id", F.struct("embedding").alias("meta"))

    def top(df, vec_col):
        q = df.filter(F.col("vec_id") < 3).withColumnRenamed(
            "vec_id", "query_id"
        )
        return similarity.ivf_topk(
            df, q, k=5, n_centroids=4, n_probe=2, vec_col=vec_col
        ).collect()

    want = top(flat, "embedding")
    assert sorted(map(tuple, top(nested, "meta.embedding"))) == sorted(
        map(tuple, want)
    )
    assert {r.query_id for r in want} == {0, 1, 2}


def test_ivf_index_matches_ann_ivf_topk_oracle_entry(spark, sf_dir, tmp_path):
    """The persisted index at ann_ivf_topk's operating point (16 lists,
    8 probes, k=10, queries vec_id < 5) returns exactly that entry's
    rows — and the entry is checked against its DuckDB oracle, so the
    index path has an exact oracle too."""
    from aws_cli_data_pipeline_tools_spark.catalog import all_specs

    want = all_specs()["ann_ivf_topk"].fn(spark, sf_dir).collect()
    emb = load_table(spark, "embeddings", sf_dir)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    idx = str(tmp_path / "ivf16")
    similarity.build_ivf_index(emb, idx, n_centroids=16)
    got = similarity.ivf_index_topk(spark, idx, queries, k=10, n_probe=8)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want))
    assert {r.query_id for r in want} == {0, 1, 2, 3, 4}
