"""Mergeable frequency sketch: Misra-Gries candidate pruning for exact
heavy hitters at scale.

A naive "terms above x% frequency" plan shuffles EVERY distinct term to a
reducer — at 100 TB of text that is billions of group keys moved for a
result of a few hundred rows. The classic two-phase fix:

1. per-partition Misra-Gries summaries (capacity m) — executor-local, no
   shuffle; the MG invariant (total decrement <= n_p/(m+1) per item)
   guarantees every item with partition frequency > n_p/m survives, and
   summing over partitions, every item with GLOBAL frequency > N/m is in
   the union of the summaries;
2. exact counting restricted to that candidate union (a broadcast semi-join
   pushes the candidate filter into the scan), then the exact threshold
   filter.

The result is bit-identical to the full GROUP BY (the sketch only *prunes*,
never decides), so it hash-checks against a plain SQL oracle — while the
shuffle carries at most ``capacity x partitions`` keys.

Per-batch merging is vectorized: a pandas ``value_counts`` is itself a
valid MG summary (exact counts), and two summaries merge by adding counts
then subtracting the (m+1)-th largest and dropping non-positives
(Agarwal et al., "Mergeable Summaries", PODS'12).
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _mg_merge(counters: dict, batch: "pd.Series", capacity: int) -> dict:
    for tok, c in batch.items():
        counters[tok] = counters.get(tok, 0) + int(c)
    if len(counters) > capacity:
        kth = sorted(counters.values(), reverse=True)[capacity]
        counters = {t: c - kth for t, c in counters.items() if c - kth > 0}
    return counters


def _mg_summaries(items: DataFrame, col: str, capacity: int) -> DataFrame:
    """Per-partition Misra-Gries summaries over ``items[col]`` PLUS the
    partition's row count, in ONE pass: candidate rows carry
    ``__pn = null``, and each partition appends a single sentinel row
    (``col = null``, ``__pn = rows``). Folding the count into the sketch
    pass spares ``heavy_hitters`` a separate full scan of ``items`` just
    for N — at corpus scale that scan is a third tokenization of the
    corpus. Null items cannot be candidates (pandas ``value_counts``
    drops them and the sentinel claims the null key), which is fine for
    every caller here: a null token is not a heavy hitter."""

    def summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        n = 0
        for pdf in batches:
            n += len(pdf)
            counters = _mg_merge(counters, pdf[col].value_counts(), capacity)
        yield pd.DataFrame(
            {
                col: list(counters.keys()) + [None],
                "__pn": [None] * len(counters) + [n],
            }
        )

    return items.mapInPandas(summarize, schema=f"{col} string, __pn long")


def mg_candidates(items: DataFrame, col: str, capacity: int) -> DataFrame:
    """Per-partition Misra-Gries summaries over ``items[col]``; returns the
    distinct candidate union (one narrow column, <= capacity rows per input
    partition). Superset of every item with global frequency > N/capacity."""
    return (
        _mg_summaries(items, col, capacity)
        .filter(F.col(col).isNotNull())
        .select(col)
        .distinct()
    )


def heavy_hitters(
    items: DataFrame, col: str, min_share: float, capacity: int | None = None
) -> DataFrame:
    """Exact items with frequency > ``min_share`` of all rows, computed via
    MG pruning + exact verification. ``capacity`` defaults to the tightest
    value honoring the guarantee (ceil(1/min_share)); a smaller caller
    value is rejected loudly — an undersized summary silently drops true
    heavy hitters, voiding the completeness guarantee."""
    min_capacity = math.ceil(1 / min_share)
    if capacity is None:
        capacity = min_capacity
    elif capacity < min_capacity:
        raise ValueError(
            f"capacity={capacity} < ceil(1/min_share)={min_capacity}: the "
            "Misra-Gries candidate set would no longer be a superset of the "
            "true heavy hitters"
        )
    # ONE sketch pass yields both the candidate union and N (the
    # sentinel rows), so ``items`` is consumed twice total (sketch +
    # exact verify) instead of three times; the summary table is
    # capacity x partitions rows, so its barrier is ~free while its two
    # consumers below would otherwise each re-run the full scan.
    summ = _mg_summaries(items, col, capacity).localCheckpoint(eager=False)
    cand = summ.filter(F.col(col).isNotNull()).select(col).distinct()
    total = summ.agg(F.sum("__pn").cast("long").alias("__total"))
    return (
        items.join(F.broadcast(cand), col, "left_semi")
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .join(F.broadcast(total))
        .filter(F.col("cnt") > F.col("__total") * F.lit(min_share))
        .drop("__total")
    )


# ---- Incremental distinct counts: mergeable HLL sketch tables --------------
# The corpus-monitoring companion to the incremental dedup indexes: corpus-
# wide approx-distinct counts (unique tokens, sources, digests, ...) that an
# ingest pipeline keeps CURRENT without ever rescanning the corpus. Each
# batch contributes one tiny sketch row per column (2^lgk registers, KBs);
# the corpus-wide estimate is a union-aggregate over the sketch table —
# O(batches) rows, independent of corpus size. Datasketches HLL via the
# built-in hll_sketch_agg/hll_union_agg (JVM, mergeable, order-insensitive
# over register maxima). Merging is NOT bit-identical to a full-scan
# sketch at small cardinalities — a single sketch can stay in the exact
# sparse (list/set) mode while a union forces promotion to dense HLL
# registers — so the pinned contract is agreement within the lgk=12
# relative-error bound (~1.6%), measured in pytest, not exact equality.


def hll_column_sketches(
    df: DataFrame, cols: list[str], lgk: int = 12
) -> DataFrame:
    """One scan, one row per column: (column string, sketch binary).

    All columns sketch in a single aggregate pass (each hll_sketch_agg is
    its own partial-merge accumulator), then the 1-row result unpivots to
    the (column, sketch) layout that persists as the incremental sketch
    table — append one such frame per ingest batch."""
    one = df.agg(
        *[F.hll_sketch_agg(F.col(c), lgk).alias(c) for c in cols]
    )
    return one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"), F.col(c).alias("sketch")
                    )
                    for c in cols
                ]
            )
        ).alias("__s")
    ).select("__s.column", "__s.sketch")


def hll_estimates(sketches: DataFrame) -> DataFrame:
    """(column, approx_distinct) from any pile of sketch rows — per-batch
    appends, per-partition shards, or one full-scan row; union order is
    immaterial. The only shuffle is O(columns x sketch-rows) KB-sized."""
    return sketches.groupBy("column").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(
            "approx_distinct"
        )
    )
