"""2-D Pareto frontier (skyline): rows not dominated on a
(minimize x, maximize y) trade-off — "cheapest part at every size
level", the product-search / portfolio primitive.

Semantics (fixed, mirrored by the oracle): a row survives iff

    y  >  max{ y' : x' < x }        (vacuously true for the min-x rows)

i.e. strictly cheaper rows must all be strictly worse on y.  This is
the standard sort-scan skyline for two dimensions.

Scale shape: the classic formulation is a running max over the global
x order — an unpartitioned window, one task at 100 TB.  Instead the
prefix max runs over the X VALUE HISTOGRAM: max(y) per distinct x
(one hash aggregate with map-side partials), then the exclusive
running max over the histogram through the range pass
(`scale.prefix_scalable`), so no single task ever holds the whole
histogram, then a join back on x and a map-side filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .scale import prefix_scalable

__all__ = ["pareto_frontier"]


def pareto_frontier(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Rows with ``y > max(y)`` over all strictly-smaller ``x``.

    Both columns must be integer-comparable (quantize doubles first).
    Returns the input rows unchanged (the survivors).

    The max over strictly-smaller x is
    `scale.prefix_scalable(agg="max", inclusive=False)` over the x-value
    histogram: range partition → per-range max → driver carry-ins →
    per-range window.  Its border histogram runs at call time."""
    h = df.groupBy(x_col).agg(F.max(y_col).alias("_ymax"))
    cum = prefix_scalable(
        h, [x_col], "_ymax", agg="max", out_col="_best_below", inclusive=False
    ).select(x_col, "_best_below")
    return df.join(cum, x_col).where(
        F.col("_best_below").isNull() | (F.col(y_col) > F.col("_best_below"))
    ).drop("_best_below")
