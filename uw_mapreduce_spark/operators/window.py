"""Sliding-window aggregation over a global order — the reference's
flagship query.

Reference parity: O12+O13+O14 — bounded window replication
(`/root/reference/src/SlidingAggregation.java:241-313`), per-partition
aggregate broadcast (:305-310) and prefix-sum window evaluation
(`AggrReducer`, :316-430, `countAggregate` :356-377).  All of that
machinery computes, per record,

    agg(value) OVER (ORDER BY rank ROWS BETWEEN l-1 PRECEDING AND CURRENT ROW)

with rank = 0-based row number over the key order (SURVEY.md §0 — the
semantics were verified against all three golden output dirs).  Spark's
`WindowExec` running-frame aggregation uses the same
prefix-accumulate/retract technique internally, so the moderate-scale
path is one expression.

The aggregate function is pluggable (the reference hardcodes SUM but
marks the accumulation sites `// Aggregation point`,
`SlidingAggregation.java:301,360,372,407`): pass any Spark aggregate
expression name in ``agg`` (sum/min/max/count/avg/...).

For the no-single-partition 100 TB path see
``scale.sliding_aggregate_scalable``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


AGG_FNS = {
    "sum": F.sum,
    "min": F.min,
    "max": F.max,
    "count": F.count,
    "avg": F.avg,
}


def sliding_aggregate(
    df: DataFrame,
    order_by: list[str],
    value_col: str,
    window: int,
    agg: str = "sum",
    rank_col: str = "rank",
    agg_col: str = "agg",
) -> DataFrame:
    """Trailing window aggregate over the global order.

    Frame: rows [max(0, r-window+1), r] — trailing, inclusive of the
    current row, clamped at the start (`SlidingAggregation.java:357-362`,
    verified on expected{16,79,91}).  The window has no PARTITION BY,
    so it runs in one task: use the scalable variant beyond ~10M rows.
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    try:
        agg_fn = AGG_FNS[agg]
    except KeyError:
        raise ValueError(f"agg must be one of {sorted(AGG_FNS)}") from None

    w_rank = Window.orderBy(*[F.col(c) for c in order_by])
    w_agg = Window.orderBy(F.col(rank_col)).rowsBetween(-(window - 1), Window.currentRow)
    ranked = df.withColumn(rank_col, (F.row_number().over(w_rank) - F.lit(1)).cast("long"))
    return ranked.withColumn(agg_col, agg_fn(F.col(value_col)).over(w_agg))


def sliding_sum_kv(df: DataFrame, window: int) -> DataFrame:
    """The reference pipeline verbatim on a (key, value) table:
    rank by key (value as deterministic tiebreak), trailing SUM.
    Output schema (rank, key, agg) matches the golden files
    `expected{16,79,91}/part-r-*` = ``rank\\tkey\\tsum`` rows.
    """
    out = sliding_aggregate(
        df.withColumn("value", F.col("value").cast("long")),
        order_by=["key", "value"],
        value_col="value",
        window=window,
    )
    return out.select("rank", "key", "agg")
