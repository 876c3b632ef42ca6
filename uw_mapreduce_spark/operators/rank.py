"""Global 0-based rank over a total order.

Reference parity: O8+O9 — `SortReducer` forwards per-partition counts to
all later reducers as in-band sentinels (`/root/reference/src/
SlidingAggregation.java:159-168`), `RankReducer` accumulates them into a
prefix count and numbers its records in sorted order
(`SlidingAggregation.java:173-210`).  Rank is 0-based (:199) and the
reference's tie order is nondeterministic (`PairInt.java:58-60` compares
the key only); we require a full tiebreak column list instead
(SURVEY.md §2.3.1).

Two implementations:

- ``global_rank`` — ``row_number() OVER (ORDER BY ...) - 1``.  Catalyst
  plans an unpartitioned window, which collapses to ONE partition: fine
  up to ~10M rows, wrong at 100 TB.
- ``scale.global_rank_scalable`` — the reference's own two-pass
  prefix-count algorithm, which is exactly what ``RDD.zipWithIndex``
  implements: pass 1 counts records per range of keys, pass 2 numbers
  each range's records from its prefix offset.  O(n/P) memory per
  task, no single-partition bottleneck.  ``ntile_scalable`` builds on it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def global_rank(
    df: DataFrame,
    order_by: list[str],
    rank_col: str = "rank",
) -> DataFrame:
    """0-based dense global rank via the Window API (moderate scale)."""
    w = Window.orderBy(*[F.col(c) for c in order_by])
    return df.withColumn(rank_col, (F.row_number().over(w) - F.lit(1)).cast("long"))


def ntile_scalable(
    df: DataFrame,
    order_by: list[str],
    k: int,
    tile_col: str = "tile",
    num_partitions: int | None = None,
) -> DataFrame:
    """``ntile(k) OVER (ORDER BY ...)`` without the single-partition
    window — the quartile/decile assignment that survives 100 TB.

    SQL's ntile over n rows gives the first ``n mod k`` buckets
    ``n div k + 1`` rows and the rest ``n div k``; with a fully
    tie-broken ``order_by`` (ranks unique) that bucket is a CLOSED FORM
    of the 0-based global rank j:

        big = n DIV k + 1;  large = n MOD k
        j <  large·big  ->  j DIV big + 1
        j >= large·big  ->  large + (j - large·big) DIV (n DIV k) + 1

    so the plan is `scale.global_rank_scalable` (deterministic range
    borders, P-row offsets, per-partition windows) + a broadcast 1-row
    count — no stage ever sees more than O(n/P) rows.  Exact int64
    arithmetic (SQL DIV), bit-identical to the Window ntile on unique
    ranks.
    """
    from .scale import global_rank_scalable

    if k < 1:
        raise ValueError("k must be >= 1")
    ranked = global_rank_scalable(df, order_by, "__nt_rank", num_partitions)
    n_row = df.agg(F.count(F.lit(1)).cast("long").alias("__nt_n"))
    tile = F.expr(
        f"CAST(CASE WHEN __nt_rank < (__nt_n % {k}) * (__nt_n DIV {k} + 1)"
        f" THEN __nt_rank DIV (__nt_n DIV {k} + 1)"
        f" ELSE (__nt_n % {k})"
        f"  + (__nt_rank - (__nt_n % {k}) * (__nt_n DIV {k} + 1))"
        f"    DIV (__nt_n DIV {k})"
        f" END + 1 AS BIGINT)"
    )
    return (
        ranked.crossJoin(F.broadcast(n_row))
        .withColumn(tile_col, tile)
        .drop("__nt_rank", "__nt_n")
    )


def grouped_weighted_median(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    out_col: str = "wmedian",
) -> DataFrame:
    """Lower weighted median per group: the smallest value v whose
    cumulative weight reaches half the group's total —
    min{v : 2·Σ_{u≤v} w(u) ≥ W}.  Deterministic for integer weights
    (no interpolation, no tie ambiguity: weights aggregate per
    DISTINCT value before the scan).

    Scale shape: the cumulative scan runs over the per-group VALUE
    HISTOGRAM (one hash aggregate on (group, value) with map-side
    partials), not the raw rows — the same "shuffle the vocabulary,
    not the corpus" argument as the token histogram.  The per-group
    window is bounded by the value domain's cardinality, so it stays
    a histogram-sized sort even at 100 TB; for unbounded-domain
    values, quantize first (the repo-wide integer-grid discipline).
    """
    from pyspark.sql import Window

    h = df.groupBy(*group_cols, value_col).agg(
        F.sum(F.col(weight_col)).alias("_w")
    )
    wc = Window.partitionBy(*group_cols).orderBy(value_col)
    wt = Window.partitionBy(*group_cols)
    c = h.withColumn("_cw", F.sum("_w").over(wc)).withColumn(
        "_tw", F.sum("_w").over(wt)
    )
    return (
        c.where(F.lit(2) * F.col("_cw") >= F.col("_tw"))
        .groupBy(*group_cols)
        .agg(F.min(value_col).alias(out_col))
    )


def grouped_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    quantiles_permille: list[int],
) -> DataFrame:
    """Exact lower quantiles per group, several at once: for each q in
    ``quantiles_permille``, the smallest value whose cumulative count
    reaches ⌈q·n/1000⌉ — the P25/P50/P75/P90 summary block of every
    monitoring dashboard, computed EXACTLY (no interpolation, so
    integer in → integer out and engines agree bit-for-bit).

    Same scale shape as `grouped_weighted_median`: one hash aggregate
    to the per-group VALUE HISTOGRAM (map-side partials), a
    histogram-bounded cumulative window, then one min per (group, q) —
    the corpus shuffles once into vocabulary-sized buckets, never
    sorts globally.  Output: group_cols + [q_permille, value]."""
    h = df.groupBy(*group_cols, value_col).agg(
        F.count(F.lit(1)).alias("_c")
    )
    wc = Window.partitionBy(*group_cols).orderBy(value_col)
    wt = Window.partitionBy(*group_cols)
    c = h.withColumn("_cum", F.sum("_c").over(wc)).withColumn(
        "_n", F.sum("_c").over(wt)
    )
    qdf = None
    for q in quantiles_permille:
        # ⌈n·q/1000⌉ in pure int64: (n·q + 999) DIV 1000 — no double
        # division whose rounding could flip the ceiling at scale.
        need = F.expr(f"(_n * {int(q)} + 999) DIV 1000")
        hit = (
            c.where(F.col("_cum") >= need)
            .groupBy(*group_cols)
            .agg(F.min(value_col).alias("value"))
            .withColumn("q_permille", F.lit(int(q)).cast("long"))
        )
        qdf = hit if qdf is None else qdf.unionByName(hit)
    return qdf.select(*group_cols, "q_permille", "value")
