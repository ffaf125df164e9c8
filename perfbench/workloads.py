"""The benchmark's workloads: fixed operation lists over the public API.

An operation is one call into a layer (its *build*: a catalog entry's
``QuerySpec.fn``, an operator, ``runner.sql``) followed by one *sink*
action that completes it (``collect``, ``render.to_tsv``, a parquet write
through ``sources.write``).  Its latency runs from the build
call to the end of the sink.  Each ``Op`` names the layer of its build and
of its sink; the trace keys its spans by them.

Every output is checked after the timed region (``Verifier``): entries with
a DuckDB oracle must match its row count and order-insensitive values,
canonicalized as ``tools/check_oracle.py`` does; entries without one must
pass their ``check_oracle.INVARIANTS`` verifier; the operations that are not
catalog entries carry their own checks here.
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import numpy as np
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from aws_cli_data_pipeline_tools_spark import render, runner
from aws_cli_data_pipeline_tools_spark.catalog import all_specs
from aws_cli_data_pipeline_tools_spark.operators import dedup, similarity
from aws_cli_data_pipeline_tools_spark.sources import (
    load_table,
    reader,
    register_views,
    write,
)
from tools import check_oracle


@dataclass
class Ctx:
    """Paths and session one run's operations share."""

    spark: Any
    sf_dir: str
    work_dir: str

    def path(self, name: str) -> str:
        return os.path.join(self.work_dir, name)


@dataclass(frozen=True)
class Op:
    name: str
    layer: str
    build_phase: str
    build: Callable[[Ctx], Any]
    sink_layer: str
    sink_phase: str
    sink: Callable[[Ctx, Any], Any]
    verify: Callable[["Verifier", Any], None]


# ---------------------------------------------------------------- sinks


def collect(_ctx: Ctx, df: DataFrame) -> tuple[list[str], list[tuple]]:
    return list(df.columns), [tuple(r) for r in df.collect()]


def to_tsv(_ctx: Ctx, df: DataFrame) -> tuple[list[str], str]:
    return list(df.columns), render.to_tsv(df)


def parquet_count(ctx: Ctx, df: DataFrame) -> int:
    obs = Observation()
    write(df.observe(obs, F.count(F.lit(1)).alias("rows")),
          ctx.path("span_pairs"))
    return obs.get["rows"]


def returned(_ctx: Ctx, value: Any) -> Any:
    return value


# ---------------------------------------------------------------- verifier


class VerificationError(AssertionError):
    pass


#: Relative tolerance of a float cell against the oracle.  Spark and DuckDB
#: can cast the same exact decimal sum to doubles one ulp apart (see
#: ``catalog.fragments.dsum``); when the sum lies on a half-way point of the
#: ``round(..., 5)`` that follows, the outputs differ by one unit in the
#: fifth decimal.  Seed 3 hits this in ``pricing_summary``'s ``sum_charge``:
#: exact sum 284617438.483515, Spark 284617438.48352, DuckDB
#: 284617438.48351, 3.5e-14 of the value.  Every other cell compares
#: exactly, as ``tools/check_oracle.py`` canonicalizes it.
FLOAT_REL_TOL = 1e-12


def _sort_key(v: Any) -> str:
    return f"{v:.9e}" if isinstance(v, float) else check_oracle.canon(v)


def _aligned(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[list]]:
    """Columns in name order and rows sorted on their cells, floats to nine
    significant digits, so that output and oracle rows line up."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(([r[i] for i in order] for r in rows),
                 key=lambda r: [_sort_key(v) for v in r])
    return [cols[i] for i in order], out


def _same_cell(got: Any, want: Any) -> bool:
    if isinstance(got, float) and isinstance(want, float):
        return (math.isnan(got) and math.isnan(want)) or \
            math.isclose(got, want, rel_tol=FLOAT_REL_TOL)
    return check_oracle.canon(got) == check_oracle.canon(want)


def _check(cond: bool, msg: str) -> None:
    if not cond:
        raise VerificationError(msg)


class Verifier:
    """Checks one run's outputs against DuckDB over the same input files."""

    def __init__(self, ctx: Ctx):
        import duckdb

        self.ctx = ctx
        self.specs = all_specs()
        self.con = duckdb.connect()
        for t in os.listdir(ctx.sf_dir):
            if t.endswith(".parquet"):
                name = t[: -len(".parquet")]
                self.con.execute(
                    f"CREATE VIEW {name} AS SELECT * FROM "
                    f"'{os.path.join(ctx.sf_dir, t)}'"
                )
        self._oracles: dict[str, tuple[list[str], list[tuple]]] = {}

    def oracle(self, name: str) -> tuple[list[str], list[tuple]]:
        if name not in self._oracles:
            rel = self.con.sql(self.specs[name].oracle)
            self._oracles[name] = (list(rel.columns), rel.fetchall())
        return self._oracles[name]

    def rows(self, name: str, out: tuple[list[str], list[tuple]]) -> None:
        cols, rows = out
        spec = self.specs[name]
        if spec.oracle is None:
            check_oracle.INVARIANTS[name](
                self.ctx.spark, self.ctx.sf_dir, self.con, rows, cols,
                self.specs,
            )
            return
        want_cols, want_rows = _aligned(*self.oracle(name))
        got_cols, got_rows = _aligned(cols, rows)
        _check(got_cols == want_cols, f"{name}: columns {got_cols} != {want_cols}")
        _check(len(got_rows) == len(want_rows),
               f"{name}: {len(got_rows)} rows, oracle {len(want_rows)}")
        for got, want in zip(got_rows, want_rows):
            _check(all(map(_same_cell, got, want)),
                   f"{name}: row {got} differs from the oracle's {want}")

    def tsv(self, name: str, out: tuple[list[str], str]) -> None:
        """The rendered table holds the oracle's rows, cell for cell."""
        cols, text = out
        lines = text.rstrip("\n").split("\n")
        _check(lines[0] == "\t".join(cols), f"{name}: header {lines[0]!r}")
        want_cols, want_rows = self.oracle(name)
        idx = [want_cols.index(c) for c in cols]
        want = sorted(
            "\t".join(render._cell(r[i]) for i in idx) for r in want_rows
        )
        _check(len(want) <= render.DEFAULT_MAX_ROWS, f"{name}: oracle too big")
        _check(sorted(lines[1:]) == want,
               f"{name}: {len(lines) - 1} rendered rows differ from the oracle")

    def ivf_topk(self, out: tuple[list[str], list[tuple]]) -> None:
        """Each query's neighbours carry their exact cosine, at most ``K``
        per query with distinct ids, and the query itself ranks first."""
        cols, rows = out
        emb = self.con.sql("SELECT vec_id, embedding FROM embeddings").fetchall()
        vecs = {i: np.asarray(v, dtype=np.float64) for i, v in emb}
        qi, ni, ci = (cols.index(c) for c in ("query_id", "neighbor_id", "cosine"))
        by_query: dict[int, list[tuple]] = {}
        for r in rows:
            by_query.setdefault(r[qi], []).append(r)
        _check(sorted(by_query) == list(range(N_QUERIES)),
               f"ivf_index_topk: queries {sorted(by_query)}")
        for q, hits in by_query.items():
            ids = [h[ni] for h in hits]
            _check(len(ids) == len(set(ids)) <= K, f"query {q}: ids {ids}")
            for h in hits:
                a, b = vecs[q], vecs[h[ni]]
                exact = a @ b / (np.linalg.norm(a) * np.linalg.norm(b))
                _check(abs(exact - h[ci]) <= 1e-5,
                       f"query {q} -> {h[ni]}: cosine {h[ci]} != {exact}")
            best = max(hits, key=lambda h: h[ci])
            _check(best[ni] == q, f"query {q}: nearest is {best[ni]}")

    def ivf_index(self, _out: None) -> None:
        """The written index holds every vector once, under 16 lists."""
        spark = self.ctx.spark
        corpus = spark.read.parquet(self.ctx.path("ivf_index") + "/corpus")
        n = self.con.sql("SELECT count(*) FROM embeddings").fetchone()[0]
        got = corpus.agg(F.count(F.lit(1)), F.countDistinct("vec_id"),
                         F.countDistinct("list_id")).first()
        _check(got[0] == got[1] == n, f"ivf index holds {got[0]} rows of {n}")
        _check(got[2] <= N_CENTROIDS, f"ivf index has {got[2]} lists")
        cents = spark.read.parquet(self.ctx.path("ivf_index") + "/centroids")
        _check(cents.count() == N_CENTROIDS, "ivf index centroid count")

    def written_spans(self, count: int) -> None:
        """The written pairs, read back, are the ``dedup_shared_substring``
        oracle's pairs."""
        back = reader(self.ctx.spark, "parquet").load(self.ctx.path("span_pairs"))
        rows = [tuple(r) for r in back.collect()]
        _check(len(rows) == count, f"wrote {count} pairs, read back {len(rows)}")
        self.rows("dedup_shared_substring", (list(back.columns), rows))


# ---------------------------------------------------------------- ops

#: Persisted-IVF operating point: 16 lists, 8 probed, top-10 for 5 queries.
N_CENTROIDS, N_PROBE, K, N_QUERIES = 16, 8, 10, 5


def catalog_op(name: str, layer: str, build_phase: str = "build") -> Op:
    def build(ctx: Ctx) -> DataFrame:
        return all_specs()[name].fn(ctx.spark, ctx.sf_dir)

    return Op(name, layer, build_phase, build, layer, "exec", collect,
              lambda v, out: v.rows(name, out))


def runner_op(name: str) -> Op:
    """``runner.sql`` on the SQL text of a catalog entry whose Spark and
    DuckDB text are the same, rendered with ``render.to_tsv``."""

    def build(ctx: Ctx) -> DataFrame:
        return runner.sql(ctx.spark, all_specs()[name].oracle).require_succeeded()

    return Op(f"sql:{name}", "runner", "sql", build, "render", "to_tsv",
              to_tsv, lambda v, out: v.tsv(name, out))


def build_ivf_index(ctx: Ctx) -> None:
    emb = load_table(ctx.spark, "embeddings", ctx.sf_dir)
    similarity.build_ivf_index(emb, ctx.path("ivf_index"), n_centroids=N_CENTROIDS)


def ivf_index_topk(ctx: Ctx) -> DataFrame:
    emb = load_table(ctx.spark, "embeddings", ctx.sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return similarity.ivf_index_topk(
        ctx.spark, ctx.path("ivf_index"), queries, k=K, n_probe=N_PROBE,
        query_id_col="query_id",
    )


def register_fixture_views(ctx: Ctx) -> None:
    """The interactive session's catalog, registered once."""
    register_views(ctx.spark, ctx.sf_dir)


def no_preparation(_ctx: Ctx) -> None:
    pass


def shared_spans(ctx: Ctx) -> DataFrame:
    """``dedup_shared_substring``'s operator call, without its sort."""
    docs = load_table(ctx.spark, "documents", ctx.sf_dir)
    return dedup.shared_span_pairs(docs, span=32, rolling=True, max_postings=64)


WORKLOADS: dict[str, dict] = {
    "sql_views": {
        "sf": 0.01,
        "probe_table": "lineitem",
        "prepare": register_fixture_views,
        "ops": [
            catalog_op("pricing_summary", "catalog"),
            catalog_op("join_5way_region_revenue", "catalog"),
            catalog_op("events_tumbling_hourly", "catalog"),
            catalog_op("profile_lineitem_approx", "profiler"),
            catalog_op("streaming_tumbling_live", "streaming", "drain"),
            runner_op("join_inner_3way_top10"),
            runner_op("join_5way_region_revenue"),
            runner_op("topk_orders"),
        ],
    },
    "llm_ops": {
        "sf": 0.01,
        "probe_table": "embeddings",
        "prepare": no_preparation,
        "ops": [
            catalog_op("dedup_minhash_lsh", "dedup"),
            catalog_op("text_byte_entropy", "textstats"),
            catalog_op("multimodal_png_pixels", "multimodal"),
            Op("build_ivf_index", "similarity", "index_write", build_ivf_index,
               "similarity", "index_write", returned,
               lambda v, out: v.ivf_index(out)),
            Op("ivf_index_topk", "similarity", "build", ivf_index_topk,
               "similarity", "exec", collect, lambda v, out: v.ivf_topk(out)),
            Op("write_shared_spans", "dedup", "build", shared_spans,
               "sources", "write", parquet_count,
               lambda v, count: v.written_spans(count)),
        ],
    },
}


#: Per-layer metrics of a traced run, each read from the
#: ``trace.layer_metrics`` key of the same name unless ``_LAYER_KEYS`` names
#: another.  Layers a workload never calls read 0.
PER_LAYER = [
    "sources.register_views_s",
    "sources.register_views_jobs",
    "sources.load_table_s",
    "sources.write_s",
    "runner.sql_s",
    "render.to_tsv_s",
    "catalog.build_s",
    "catalog.build_jobs",
    "catalog.exec_s",
    "catalog.exec_stages",
    "profiler.build_s",
    "profiler.exec_s",
    "profiler.exec_tasks",
    "streaming.drain_s",
    "streaming.drain_jobs",
    "similarity.build_s",
    "similarity.build_jobs",
    "similarity.exec_s",
    "similarity.index_write_s",
    "dedup.build_s",
    "dedup.build_jobs",
    "dedup.exec_s",
    "dedup.max_stage_tasks",
    "textstats.exec_s",
    "multimodal.exec_s",
]
_LAYER_KEYS = {"dedup.max_stage_tasks": "dedup.exec_max_stage_tasks"}


def per_layer_metrics(layers: dict[str, float], totals: dict[str, float],
                      session: dict[str, float], views_left: float,
                      overhead_s: float) -> dict[str, dict]:
    out = {
        "session.get_spark_s": (session["get_spark_s"], "s"),
        "session.warm_pass_s": (session["warm_pass_s"], "s"),
    }
    for name in PER_LAYER:
        out[name] = (layers.get(_LAYER_KEYS.get(name, name), 0),
                     "s" if name.endswith("_s") else "count")
    out["streaming.views_left"] = (views_left, "count")
    out["spark.jobs_per_pass"] = (totals["jobs"], "count")
    out["spark.tasks_per_pass"] = (totals["tasks"], "count")
    out["trace.overhead_s"] = (overhead_s, "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}
