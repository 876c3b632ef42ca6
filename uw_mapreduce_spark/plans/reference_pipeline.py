"""The reference's flagship query, instantiated on the driver's tables.

Reference semantics (verified against all three golden dirs,
SURVEY.md §0):

    WITH ranked AS (SELECT ROW_NUMBER() OVER (ORDER BY key) - 1 AS rank, *)
    SELECT rank, key, SUM(value) OVER (ORDER BY rank
        ROWS BETWEEN :l - 1 PRECEDING AND CURRENT ROW) AS agg

Here the "key order" is event time (``ts``, with ``event_id`` as the
deterministic tiebreak the reference lacks — SURVEY.md §2.3.1) and the
aggregated value is ``value``.  To keep the result bit-stable across
engines and run orders, the value is scaled to integer micro-units
before summing (floor(value * 1e6)): IEEE double addition is
order-sensitive, int64 addition is not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.scale import sliding_aggregate_scalable
from ..operators.window import sliding_aggregate
from ..sources.tables import load_table

DEFAULT_WINDOW = 91


def _events_prepared(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.withColumn("value_u", F.floor(F.col("value") * F.lit(1000000.0)).cast("long"))


def sliding_events(spark: SparkSession, sf_dir: str, window: int = DEFAULT_WINDOW) -> DataFrame:
    """Window-API path (single-partition window; fine to ~10M rows)."""
    out = sliding_aggregate(
        _events_prepared(spark, sf_dir),
        order_by=["ts", "event_id"],
        value_col="value_u",
        window=window,
        agg="sum",
        agg_col="agg_u",
    )
    return out.select("rank", "event_id", "ts", "value", "agg_u")


def sliding_events_scalable(spark: SparkSession, sf_dir: str, window: int = DEFAULT_WINDOW) -> DataFrame:
    """The range pass — no single-partition stage (100 TB)."""
    out = sliding_aggregate_scalable(
        _events_prepared(spark, sf_dir),
        order_by=["ts", "event_id"],
        value_col="value_u",
        window=window,
        agg="sum",
        agg_col="agg_u",
    )
    return out.select("rank", "event_id", "ts", "value", "agg_u")
