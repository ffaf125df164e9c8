"""Shared fixture + measurement helpers for the scale tools.

One copy of the three things every scale measurement must agree on
(bench_scale.py, measure_shuffle_bytes.py, measure_ann_spill.py):

- **The cipher-replication fixture.** Replica i rewrites characters by a
  seeded random permutation of ``ALPHA`` via ``F.translate`` — a
  bijection on the character stream, so within-replica shingle/window
  pair structure is EXACTLY the 1× fixture's while shingles are disjoint
  across replicas (two distinct 36-char perms agree on all ~15 letters
  of a 32-char window with probability ~(1/36)^15 ≈ 0). True pair count
  therefore grows exactly N× (linear) as the corpus grows N×. The r8
  fixture studies that motivated this (shifted-id replication collapses
  to 0 pairs once N exceeds a posting cap; word-interleaving
  manufactures 24× new cross-doc windows) are recorded in BASELINE.md.
  Keeping the permutation seed (``7_000 + i``) and alphabet HERE, in one
  place, is what keeps the "same cipher fixture" claim across the tools
  and the BASELINE.md curves true by construction rather than by
  parallel maintenance.

- **Baseline parity.** ``materialize()`` gives EVERY scale point —
  including 1× — the same repartition(32) + persist + count treatment,
  so the exponent denominator ``t[1]`` doesn't carry parquet-scan or
  first-action costs the N× points exclude (r8 review: the original
  tools timed the 1× base unpersisted and un-repartitioned, biasing
  every recorded exponent low and producing spurious negative 10×
  exponents that had to be explained away as warmup).

- **The measurement protocol.** ``timed`` (wall + row count printed)
  and ``parse_mults`` (the --mults flag, base 1 required).
"""

from __future__ import annotations

import random
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Cipher alphabet: lowercase + digits — the character classes the
#: documents fixture's tokens are drawn from.
ALPHA = "abcdefghijklmnopqrstuvwxyz0123456789"

#: Replica id offset: replica i adds ``i * SHIFT`` to the id column.
SHIFT = 10_000_000


def parse_mults(argv: list[str], default: list[int]) -> list[int]:
    """The ``--mults 1,10,30`` flag; 1 must be present (exponent base)."""
    mults = list(default)
    for i, a in enumerate(argv):
        if a == "--mults" and i + 1 < len(argv):
            mults = sorted({int(x) for x in argv[i + 1].split(",")})
    assert mults[0] == 1, "--mults must include 1 (the exponent base)"
    return mults


def timed(label: str, action, repeat: int = 1) -> float:
    """min-of-``repeat`` wall time. Exponent curves divide cell by cell,
    so one contended draw in a denominator distorts every ratio built on
    it — min-of-2 within the same process is the same noise-clipping
    rule the bench retry uses (BASELINE.md r7)."""
    best, n = None, None
    for _ in range(max(1, repeat)):
        t0 = time.perf_counter()
        n = action()
        secs = time.perf_counter() - t0
        best = secs if best is None else min(best, secs)
    suffix = f", min of {repeat}" if repeat > 1 else ""
    print(f"  {label}: {best:.2f}s  ({n} rows{suffix})", flush=True)
    return best


def materialize(df: DataFrame) -> DataFrame:
    """repartition(32) + persist + count — applied to EVERY scale point
    (1× included) so all exponent numerators and denominators pay
    identical partitioning/caching and the curve isolates operator cost.
    Callers unpersist via the returned handle when done."""
    out = df.repartition(32).persist()
    out.count()
    return out


def cipher_perm(i: int) -> str:
    """Replica i's seeded permutation of ALPHA (the ONE definition)."""
    to = list(ALPHA)
    random.Random(7_000 + i).shuffle(to)
    return "".join(to)


def cipher_replicated(
    base: DataFrame,
    mult: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The N× text corpus: replica i = (id + i*SHIFT, translate(text,
    perm_i)). Returns the raw plan — callers pass it through
    ``materialize()``."""
    out = base
    for i in range(1, mult):
        out = out.unionAll(
            base.select(
                (F.col(id_col) + i * SHIFT).alias(id_col),
                F.translate(F.col(text_col), ALPHA, cipher_perm(i)).alias(
                    text_col
                ),
            )
        )
    return out


def disable_width_probing() -> None:
    """Patch the volume-adaptive width mechanism OFF (session-default
    exchanges everywhere) for an A/B's unwidened arm. ONE patch point
    (r11 review): this must patch the SHARED probe body
    ``_probed_widths`` — not ``_probed_posting_width`` — because since
    the r10 refactor the jaccard/containment posting+pair widths call
    ``_probed_widths`` directly, and a tool patching the narrow helper
    silently leaves those widths ON in its supposedly-unwidened arm
    (an r11 fix). Keeping the patch here means the next probe-body
    refactor has one place to break loudly instead of two to break
    silently."""
    from aws_cli_data_pipeline_tools_spark.operators import dedup

    dedup._probed_widths = (
        lambda src, text_col, posting_bytes_list, *a, **k: [None]
        * len(posting_bytes_list)
    )
