"""Scalable unpartitioned rank + sliding-window aggregation (100 TB path).

Why this exists: ``Window.orderBy(...)`` with no PARTITION BY collapses to
a single partition in Spark — correct but a one-task bottleneck.  The
reference solves global windowing with 5 MR jobs: sampled range partition
(Sample+Sort), prefix-count ranking (Rank), equal-width rebalance
(Perfect), bounded replication + per-partition totals + prefix-sum window
evaluation (Aggr) — `/root/reference/src/SlidingAggregation.java:433-536`.

The module's three public entry points are the three outputs the
reference computes per row: ``global_rank_scalable`` (the rank from
prefix counts, `RankReducer` :173-210), ``prefix_scalable`` (a running
sum or max carried across partition totals, :305-310) and
``sliding_aggregate_scalable`` (the trailing window, :316-430).  Every
scalable consumer — ntile, sampling, dedup, packing, evaluation, the
skyline and the catalog rank/prefix faces — calls one of them, and all
three read their rows from ONE range pass, ``_ranged_with_offsets``,
which stays entirely JVM-side (no Python row serialization anywhere).
The range count P is a session setting, read in one place: the pass
takes the session's ``spark.sql.shuffle.partitions``, which the CLI's
``--partitions`` sets, as the reference reads its reducer count once per
job (``-D my.reducers``, :436).  No entry point takes a count of its own.

  1. deterministic range borders with EXACT per-range totals — one
     bounded histogram job (plus ≤2 refinement jobs for narrow or
     clustered keys), see ``_deterministic_borders``.  It merges the
     reference's Sample job with the per-partition counts its Rank round
     takes in-band (:159-168).  Range j holds keys in (b_{j-1}, b_j], so
     every key of range j precedes every key of range j+1.  Borders are
     histogram interval maxima, so every interval lies inside one range
     and adds its row count — and, for a prefix consumer, its value
     total (sum, or max): the reference's partition totals (:305-310) —
     to that range.  The borders are a pure function of the data, so a
     recompute routes every row identically — it can never re-border
     mid-query (which Spark's randomly-seeded RangePartitioner could).
  2. on the driver (`_halo_walk`): each range's rank base, its carry-in
     (prefix consumers) and its halo threshold (trailing windows of l
     rows).  The borders carry the histogram's final intervals, each
     with its exact row count and max key.  Range k walks back from its
     first row over whole intervals until they hold ≥ l-1 rows; its
     threshold t_k is the max key of the interval just before them.  A
     walk that reaches interval 0 takes every earlier row, NULL keys
     too (ranges 0..K).  t_k never decreases with k.
  3. ONE exchange.  Each row goes to its own range and, through
     ``explode(sequence(pid, last(key)))``, to each later range whose
     threshold lies below its key: ``last(key) = K + _pid_expr(key,
     t[K+1:])``, a balanced comparison tree like the router's — the
     reference's bounded replication (`remotelyRelevantReducers` and
     the replication loop, :257-303).  A range's halo is ≤ l-1 rows plus
     one interval (an interval holds ≤ n/4P rows unless it is one heavy
     key's), not whole earlier ranges.
     ``repartitionById(parts, _pid)``, with one shuffle task per range
     found, sends range k to task k, as the reference's `SortMapper`
     keys each record by its range index (:87-146): no hash in
     between and no empty task; a single range is one
     ``SinglePartition`` exchange.  ``_pid`` must stay INT; the
     pass-through rejects a BIGINT id.
  4. one window spec per range (PARTITION BY range ORDER BY key): the
     rank is a driver constant plus ``row_number``; sum/count/avg are
     running totals minus their ``lag(·, l)`` (O(1) per row); min/max
     use the block decomposition (blocks of l ranks: a running prefix,
     a descending running suffix and ``lag(suffix, l-1)``); prefix
     consumers add the carry-in.  Only each range's own rows are kept.

No cache, no ``count()`` barrier and no join: a pass is its border jobs
and the consumer's own action.  Per-task memory is O(n/P + l + the
largest interval); the driver holds the O(P·buckets) final intervals
and O(P) values per range.

Integer values accumulate in int64 (the reference's int32 overflow
fixed — SURVEY.md §2.3.5); floats accumulate in double.
"""

from __future__ import annotations

from bisect import bisect_right
from itertools import accumulate

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_SLIDING_AGGS = ("sum", "count", "avg", "min", "max")
_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


_HIST_TYPES = (
    "tinyint", "smallint", "int", "bigint", "float", "double",
    "date", "timestamp", "timestamp_ntz",
)


def _as_double(key, dtype: str):
    """Order-preserving double image of a key, for histogram binning only
    (borders themselves are exact values of the original type).  Every
    image is monotone non-decreasing in the key, which the exact range
    counts rely on: temporal types go through their epoch offset,
    timestamp_ntz as a zone-free interval from the epoch (a cast to
    timestamp would follow the session zone's DST jumps out of order)."""
    if dtype == "date":
        return F.unix_date(key).cast("double")
    if dtype == "timestamp":
        return F.unix_micros(key).cast("double")
    if dtype == "timestamp_ntz":
        since = key - F.expr("TIMESTAMP_NTZ'1970-01-01 00:00:00'")
        return since.cast("interval second").cast("decimal(20,6)").cast("double")
    return key.cast("double")


def _borders_from_intervals(intervals, n: int, P: int):
    """Equi-depth walk over disjoint (count, max) intervals sorted by
    key: border i is the top key of the interval where cumulative EXACT
    row count crosses i·n/P — `chooseBorders`
    (`SlidingAggregation.java:75-83`) with intervals in place of sample
    elements.  Borders are actual data values (interval maxima), so
    every interval lies inside one range.  Returns the borders and the
    range of each interval."""
    borders: list = []
    ranges: list[int] = []
    cum, j = 0, 1
    for cnt, mx in intervals:
        ranges.append(len(borders))
        cum += cnt
        if j < P and cum * P >= j * n:
            borders.append(mx)
            j = cum * P // n + 1  # the next threshold not yet crossed
    return borders, ranges


class _Borders(list):
    """Sorted border values — range j holds keys in (b_{j-1}, b_j] —
    carrying each range's exact row count (``counts``) and value total
    (``totals``: the sum or max of the requested value; None without
    one).  NULL keys count in range 0 and NaN keys in the last, where
    ``_pid_expr`` routes them.  A single range needs no offsets: when
    there are no borders, the counts are only filled in if the
    histogram had them anyway.

    ``intervals`` are the disjoint key intervals the counts were summed
    from, in key order, as (range, row count, max key): the histogram's
    final buckets, or each whole range for the exact fallback (whose
    last range has no max key).  The histogram's intervals leave out
    NULL and NaN keys; the fallback's first range counts its NULL keys.
    The halo walk (`_halo_walk`) cuts each range's halo at an interval
    edge, so it needs no per-row count."""

    def __init__(self, borders=(), counts=None, totals=None, intervals=()):
        super().__init__(borders)
        self.counts = counts or [0] * (len(self) + 1)
        self.totals = totals or [None] * (len(self) + 1)
        self.intervals = list(intervals)


def _spark_sum(a, b):
    """sum as Spark aggregates it: NULL skipped."""
    return b if a is None else a if b is None else a + b


def _spark_max(a, b):
    """max as Spark orders values: NULL skipped, NaN above everything."""
    if a is None or b is None:
        return b if a is None else a
    return a if a != a or (b == b and a >= b) else b


# Per-range value totals of the prefix consumers: the Spark aggregate
# and the driver fold that combines its partial results.
_TOTALS = {"sum": (F.sum, _spark_sum), "max": (F.max, _spark_max)}


def _borders_histogram(
    keyed: DataFrame, dtype: str, P: int, buckets_per_partition: int, agg
) -> _Borders | None:
    """Equi-depth borders with exact per-range counts and totals, from a
    deterministic bounded histogram; None when the key's double image
    cannot tell keys apart (bigints or decimals equal above 2^-53 of
    their magnitude), which takes the exact fallback.

    Level 0 needs no min/max pass: ONE ``groupBy(bucket)`` over the
    monotone log-scale image ``floor(signum(x)·log2(1+|x|)·s)`` of the
    key's double image x (one ``log2`` per row), with s = max(16, 2P)
    buckets per binary octave; ±inf take the two extreme buckets, and
    NULL keys and NaN keys are two more groups of the same job.
    Map-side combine caps each task's shuffle output at the populated
    buckets — at most 2·1025·s + 2 for any double — so the shuffle does
    not grow with key cardinality.  Every aggregate (count/min/max and
    the value total) is commutative, so the borders — and therefore the
    partitioning — are a pure function of the data multiset,
    independent of task order or input partitioning.

    Overweight buckets (count > n/4P, more than one distinct key) are
    refined in ≤2 further passes, each splitting them linearly over
    their ACTUAL [min, max] image.  At most 4P buckets can exceed n/4P;
    each pass collects ≤ 4P·max(8, buckets_per_partition) rows and gives
    the pending buckets as many children as that allows (≥ 64 each at
    the default), so a narrow key span — one month of µs timestamps sits in
    one or two level-0 buckets — is split as finely as a wide one.  A
    bucket that narrows to min == max is a heavy key seen with its
    EXACT count, so a hot key pulls borders toward equal row counts and
    gets its range to itself (equal keys must share a partition —
    extreme skew yielding fewer than P ranges IS the equal-rows
    optimum).  Driver rows stay O(P), n-independent.

    The images are monotone, so the final intervals are disjoint and
    ordered by their bucket path (level-0 bucket, child, grandchild).
    Borders are interval maxima, so each range's count and total is the
    sum over the intervals inside it; the intervals are returned too.
    """
    key = F.col("_k")
    kd = _as_double(key, dtype)
    nan = F.isnan(key) if dtype in ("float", "double") else F.lit(False)
    total, fold = _TOTALS[agg] if agg else (lambda _v: F.lit(None), _spark_sum)
    aggs = [F.count(F.lit(1)), F.min(key), F.max(key), F.min(kd), F.max(kd), total(F.col("_v"))]

    s = float(max(16, 2 * P))
    level0 = F.when(~nan, F.floor(F.signum(kd) * F.log2(F.lit(1.0) + F.abs(kd)) * F.lit(s)))
    level: list = []  # (bucket path, count, min, max, min image, max image, total)
    edge = {False: (0, None), True: (0, None)}  # NULL keys, NaN keys: (count, total)
    hist = keyed.groupBy(nan.alias("_nan"), level0.alias("_b")).agg(*aggs)
    for is_nan, b, *agged in hist.collect():
        if b is None:
            edge[is_nan] = (agged[0], agged[5])
        else:
            level.append(((b,), *agged))
    n = sum(iv[1] for iv in level)
    refine_min = max(2, n // (4 * P))
    budget = 4 * P * buckets_per_partition
    child_min = max(8, min(64, buckets_per_partition))
    final: list = []
    for depth in range(3):  # level-0 pass + ≤2 refinement passes
        pending = []
        for iv in level:
            _path, cnt, mn, mx, mnd, mxd, _t = iv
            refine = depth < 2 and cnt > refine_min and mn != mx and mxd > mnd
            (pending if refine else final).append(iv)
        if not pending:
            break
        nb = max(child_min, budget // len(pending))
        expr = None
        for i, (_path, _c, mn, mx, mnd, mxd, _t) in enumerate(pending):
            local = F.least(F.lit(nb - 1), F.greatest(
                F.lit(0), F.floor((kd - F.lit(mnd)) / F.lit((mxd - mnd) / nb))
            ))
            cond = (key >= F.lit(mn)) & (key <= F.lit(mx))
            b = F.lit(i * nb) + local
            expr = F.when(cond, b) if expr is None else expr.when(cond, b)
        level = [
            (pending[b // nb][0] + (b % nb,), *agged)
            for b, *agged in keyed.select("*", expr.alias("_b"))
            .where(F.col("_b").isNotNull()).groupBy("_b").agg(*aggs).collect()
        ]
    if any(c > refine_min and mn != mx and not mxd > mnd for _p, c, mn, mx, mnd, mxd, _t in final):
        return None
    final.sort(key=lambda iv: iv[0])
    borders, ranges = _borders_from_intervals([(iv[1], iv[3]) for iv in final], n, P)
    if final and len(borders) > ranges[-1]:
        borders.pop()  # a border at the top key would leave only NaN above it
    parts = len(borders) + 1
    counts, totals = [0] * parts, [None] * parts
    groups = [(0, *edge[False]), (parts - 1, *edge[True])]
    groups += [(j, iv[1], iv[6]) for j, iv in zip(ranges, final)]
    for j, cnt, t in groups:
        counts[j] += cnt
        totals[j] = fold(totals[j], t)
    intervals = [(j, iv[1], iv[3]) for j, iv in zip(ranges, final)]
    return _Borders(borders, counts, totals, intervals)


def _borders_exact(
    keyed: DataFrame, n: int, P: int, sample_per_partition: int
) -> list:
    """Exact-count fallback for key types the histogram cannot bin
    (strings, or numerics whose double image collapses): hash-sampled
    distinct-key aggregate — the original round-3 path.  The groupBy
    shuffles up to one row per distinct key per input partition, so this
    is reserved for the non-numeric case; HEAVY keys (count ≥ n/4P)
    enter unconditionally with exact weight, LIGHT keys enter iff
    ``xxhash64(key) % mod == 0`` with Horvitz-Thompson weight count·mod,
    and driver rows are hard-capped at 4·target in a deterministic total
    order."""
    target = sample_per_partition * P
    mod = max(1, n // target)
    heavy_min = max(2, n // (4 * P))
    counts = keyed.groupBy("_k").agg(F.count(F.lit(1)).alias("_c"))
    heavy = F.col("_c") >= heavy_min
    cand = counts.where(
        heavy | (F.pmod(F.xxhash64(F.col("_k")), F.lit(mod)) == 0)
    ).select(
        "_k",
        F.when(heavy, F.col("_c")).otherwise(F.col("_c") * mod).alias("_w"),
        heavy.alias("_h"),
    )
    pairs = sorted(
        (r[0], r[1])
        for r in cand.orderBy(
            F.col("_h").desc(), F.xxhash64(F.col("_k")), F.col("_k")
        )
        .limit(4 * target)
        .collect()
    )
    if not pairs:
        return []
    total_w = sum(w for _, w in pairs)
    return _borders_from_intervals([(w, k_) for k_, w in pairs], total_w, P)[0]


def _range_totals(keyed: DataFrame, borders: list, agg) -> _Borders:
    """The exact fallback's per-range counts and totals: one P-row
    groupBy over the ranges (the reference's in-band sentinel counts,
    `SlidingAggregation.java:159-168`).  Each whole range is one
    interval."""
    if not borders:
        return _Borders()
    parts = len(borders) + 1
    total = F.lit(None) if agg is None else _TOTALS[agg][0](F.col("_v"))
    counts, totals = [0] * parts, [None] * parts
    for pid, cnt, t in keyed.groupBy(_pid_expr("_k", borders).alias("_pid")).agg(
        F.count(F.lit(1)), total
    ).collect():
        counts[pid], totals[pid] = cnt, t
    return _Borders(borders, counts, totals, zip(range(parts), counts, [*borders, None]))


def _deterministic_borders(
    df: DataFrame,
    order_col: str,
    num_partitions: int,
    sample_per_partition: int = 64,
    *,
    value_col: str | None = None,
    agg: str = "sum",
) -> _Borders:
    """Equi-depth range borders with exact per-range row counts,
    deterministic and driver-bounded.

    This merges two rounds of the reference: its Sample job
    (`SlidingAggregation.java:38-84`: Bernoulli-sample the keys, sort
    the sample, pick the P-1 equi-depth positions — `chooseBorders`
    :75-83) and the per-partition counts its Rank round takes in-band
    (:159-168).  Three fixes to the Sample job:

    * its unseeded ``Random`` (:35) is replaced by commutative exact
      aggregates (count/min/max histogram for numeric keys; value-hash
      sampling for the rest), so the borders — and therefore the whole
      partitioning — are a pure function of the data.  (Spark's built-in
      RangePartitioner samples with a random seed per execution, so a
      recompute under cache loss could re-border mid-query.)
    * its single collector receiving O(n/threshold) rows is replaced by
      bounded collects: histogram buckets (O(P·buckets) rows) or the
      capped weighted sample — driver bytes n-independent either way.
    * heavy keys are seen with their exact mass (a histogram bucket that
      narrows to one key, or the unconditional heavy rule in the
      fallback), so extreme skew still yields equal-ROW-count ranges.

    Numeric/temporal keys take `_borders_histogram`, whose buckets give
    the counts too (bounded shuffle: map-side-combined bucket counts,
    never a per-distinct-key exchange); other types, and numerics whose
    double images collapse, take `_borders_exact` and then count the
    ranges with one P-row groupBy.  With ``value_col``, each range also
    carries its ``agg`` ("sum" or "max") of that column.  Returns a
    `_Borders`: the sorted border VALUES, partition j holding keys in
    (b_{j-1}, b_j], with ``.counts`` and ``.totals`` per range.
    """
    if num_partitions <= 1:
        return _Borders()
    key = F.col(order_col).alias("_k")
    keyed = df.select(key) if value_col is None else df.select(key, F.col(value_col).alias("_v"))
    total = None if value_col is None else agg
    dtype = dict(keyed.dtypes)["_k"]
    if dtype in _HIST_TYPES or dtype.startswith("decimal"):
        found = _borders_histogram(keyed, dtype, num_partitions, sample_per_partition, total)
        if found is not None:
            return found
    valued = keyed.where(F.col("_k").isNotNull())
    n = valued.count()
    borders = _borders_exact(valued, n, num_partitions, sample_per_partition) if n else []
    return _range_totals(keyed, borders, total)


def _pid_expr(order_col: str, borders: list):
    """Partition id for a key given sorted borders: partition j holds
    keys in (b_{j-1}, b_j]; NULL keys take partition 0 (Spark ASC sorts
    NULLS FIRST).

    The reference's ``find_border`` is a linear scan
    (`SlidingAggregation.java:128-134`); a linear WHEN chain reproduces
    that at O(P) comparisons per row, which at P=1000 is a thousand
    branches in the hot per-row path.  Built instead as a BALANCED
    comparison tree over the sorted borders — O(log P) comparisons per
    row, expression size still O(P), and codegen sees short nested
    conditionals instead of one kilometer-long chain."""
    key = F.col(order_col)

    def tree(lo: int, hi: int):
        # Returns pid expr for keys known to lie in partition range [lo, hi].
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2  # compare against b_mid: <= goes [lo, mid]
        return F.when(key <= F.lit(borders[mid]), tree(lo, mid)).otherwise(
            tree(mid + 1, hi)
        )

    if not borders:
        return F.lit(0)
    return F.when(key.isNull(), F.lit(0)).otherwise(tree(0, len(borders)))


def _halo_walk(intervals: list, off: list[int], halo: int):
    """Rank base and halo threshold of each range, on the driver.

    Range k walks back from its first row over whole intervals until
    they hold ≥ ``halo`` rows; its halo is then every earlier row whose
    key is above t[k], the max key of the interval just before them, and
    its rank base is off[k] less the rows the walk took.  A walk that
    reaches interval 0 takes every row before range k, NULL keys too:
    t[k] is None and the base 0.  A later range starts its walk no
    earlier, so t is non-decreasing and its Nones come first."""
    cum = list(accumulate((c for _j, c, _mx in intervals), initial=0))
    base, t = [], []
    e = 0  # intervals before range k
    for k in range(len(off) - 1):
        while e < len(intervals) and intervals[e][0] < k:
            e += 1
        i = bisect_right(cum, cum[e] - halo, 0, e + 1) - 1  # the walk takes intervals i..e-1
        base.append(off[k] - cum[e] + cum[i] if i > 0 else 0)
        t.append(intervals[i - 1][2] if i > 0 else None)
    return base, t


def _per_range(values: list):
    """``values[_pid]``: one driver constant per range, as a column."""
    return F.element_at(F.array(*[F.lit(v) for v in values]), F.col("_pid") + 1)


def _ranged_with_offsets(
    df: DataFrame,
    order_by: list[str],
    value_col: str | None,
    window: int | None = None,
    agg: str = "sum",
    inclusive: bool = True,
) -> DataFrame:
    """The one range pass (module docstring, steps 1-4).

    Returns ``df`` plus ``rank`` (dense, 0-based, in ``order_by`` order)
    and, when ``value_col`` is given:

    * ``window=None``: ``_prefix``, the global running ``agg`` ("sum" or
      "max") of ``value_col`` in rank order, up to and including the row
      (``inclusive=False``: over strictly earlier rows);
    * ``window=l``: ``_agg``, ``agg`` (sum/count/avg/min/max) of
      ``value_col`` over ranks [max(0, r-l+1), r], with the Window
      path's NULL, NaN and ±inf semantics.

    In window mode, rows that tie on every ``order_by`` column are
    ordered by ``value_col`` too: every range holding copies of them then
    sees the same value sequence, whatever order the shuffle delivers.
    """
    P = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    halo = 0 if window is None else window - 1
    v = None if value_col is None else F.col(value_col)
    prefix = window is None and v is not None

    # Step 1: borders with each range's row count (and value total for a prefix).
    borders = _deterministic_borders(
        df, order_by[0], P, value_col=value_col if prefix else None, agg=agg
    )
    parts = len(borders) + 1
    counts, totals = borders.counts, borders.totals
    ranged = df.withColumn("_pid", _pid_expr(order_by[0], borders))

    # Step 2: each range's rank base and halo threshold.
    off = list(accumulate(counts, initial=0))
    base, t = _halo_walk(borders.intervals, off, halo)
    k_all = t.count(None) - 1  # ranges 0..k_all take every earlier row

    # Step 3: one exchange, each row to its own range and to every later
    # range whose threshold is below its key, range k to shuffle task k.
    if halo and parts > 1:
        last = F.lit(k_all) + _pid_expr(order_by[0], t[k_all + 1:])
        ranged = ranged.withColumn("_pid", F.explode(F.sequence(F.col("_pid"), last)))
    ranged = ranged.repartitionById(parts, "_pid")

    # Step 4: one window spec per range.
    tie = [v] if window is not None and value_col not in order_by else []
    w = Window.partitionBy("_pid").orderBy(*[F.col(c) for c in order_by], *tie)
    out = ranged.withColumn(
        "rank", (_per_range(base) + F.row_number().over(w) - 1).cast("long")
    )
    if prefix:
        out = _with_prefix(out, w, v, agg, inclusive, totals, df.schema[value_col].dataType)
    elif v is not None and agg in ("min", "max"):
        out = _with_minmax(out, v, window, agg)
    elif v is not None:
        out = _with_running_diff(out, w, v, window, agg, dict(df.dtypes)[value_col])
    if halo:
        out = out.where(F.col("rank") >= _per_range(off[:parts]))
    return out.drop("_pid")


def _with_prefix(out, w, v, agg, inclusive, totals, dtype):
    """``_prefix``: the range's carry-in (the total over all earlier
    ranges) combined with its running sum or max."""
    run = w.rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    if agg == "max":
        carry = [None, *accumulate(totals[:-1], _spark_max)]
        return out.withColumn("_prefix", F.greatest(F.max(v).over(run), _per_range(carry).cast(dtype)))
    integral = dtype.simpleString() in _INTEGRAL
    zero = 0 if integral else 0.0
    carry = accumulate((zero if t is None else t for t in totals[:-1]), initial=zero)
    return out.withColumn(
        "_prefix",
        _per_range(list(carry)).cast("long" if integral else "double")
        + F.coalesce(F.sum(v).over(run), F.lit(zero)),
    )


def _with_minmax(out, v, window, agg):
    """``_agg``: trailing MIN/MAX, the non-invertible case.

    Running totals do not invert min/max, so the range pass uses the
    classic block decomposition (two-stacks / sparse-table idea,
    expressed in SQL windows): with blocks of exactly ``window`` rows
    (block = rank DIV window), the trailing window [r-l+1, r] spans at
    most two adjacent blocks, and

        win_min(r) = min( suffix_min(block of r-l+1, from r-l+1),
                          prefix_min(block of r, up to r) )

    Both pieces are RUNNING aggregates inside a block (the suffix one
    over the block in descending order), so each row costs O(1); the
    suffix piece at rank r-l+1 is a ``lag`` of l-1 rows within the
    range, whose halo holds it.
    """
    fn, pick = (F.min, F.least) if agg == "min" else (F.max, F.greatest)
    blk = Window.partitionBy("_pid", "_blk")
    top = Window.unboundedPreceding, Window.currentRow
    return (
        out.withColumn("_blk", F.expr(f"rank DIV {window}"))
        .withColumn("_pfx", fn(v).over(blk.orderBy("rank").rowsBetween(*top)))
        .withColumn("_sfx", fn(v).over(blk.orderBy(F.col("rank").desc()).rowsBetween(*top)))
        .withColumn("_agg", pick(
            "_pfx", F.lag("_sfx", window - 1).over(Window.partitionBy("_pid").orderBy("rank"))
        ))
        .drop("_blk", "_pfx", "_sfx")
    )


def _with_running_diff(out, w, v, window, agg, dtype):
    """``_agg``: trailing sum/count/avg as running totals minus their
    value ``window`` rows back (absent: the window starts at rank 0).
    NULLs are skipped and counted apart, so a frame with no value sums to
    NULL; non-finite doubles are counted apart from the finite sum, so
    one that leaves the frame leaves no NaN behind."""
    inf = float("inf")
    runs = {"_run_n": F.count(v)}
    if dtype in ("float", "double"):
        runs["_run_s"] = F.sum(F.when(~F.isnan(v) & (F.abs(v) != inf), v).otherwise(0.0))
        runs["_run_nan"] = F.count(F.when(F.isnan(v), 1))
        runs["_run_pinf"] = F.count(F.when(v == inf, 1))
        runs["_run_ninf"] = F.count(F.when(v == -inf, 1))
    else:
        runs["_run_s"] = F.sum(v)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    for name, e in runs.items():
        out = out.withColumn(name, e.over(run))
    d = {name: F.col(name) - F.coalesce(F.lag(name, window).over(w), F.lit(0)) for name in runs}
    s = d["_run_s"]
    if "_run_nan" in d:
        s = (
            F.when((d["_run_nan"] > 0) | ((d["_run_pinf"] > 0) & (d["_run_ninf"] > 0)), F.lit(float("nan")))
            .when(d["_run_pinf"] > 0, F.lit(inf))
            .when(d["_run_ninf"] > 0, F.lit(-inf))
            .otherwise(s)
        )
    n = d["_run_n"]
    s = F.when(n > 0, s)
    return out.withColumn("_agg", {"sum": s, "count": n, "avg": s / n}[agg]).drop(*runs)


def sliding_aggregate_scalable(
    df: DataFrame,
    order_by: list[str],
    value_col: str,
    window: int,
    agg: str = "sum",
    rank_col: str = "rank",
    agg_col: str = "agg",
) -> DataFrame:
    """Distributed trailing-window aggregate with no single-partition stage.

    Same semantics as ``window.sliding_aggregate`` (0-based rank over
    ``order_by``; frame = rows [max(0, r-window+1), r]; NULL values
    skipped, NULL sum/avg over a frame with no value), for the same
    five aggregates: sum, count and avg by running totals minus their
    value ``window`` rows back (`_with_running_diff`), min and max by
    block decomposition (`_with_minmax`).
    """
    if window < 1:
        raise ValueError("window must be >= 1")
    if agg not in _SLIDING_AGGS:
        raise ValueError(f"agg must be one of {sorted(_SLIDING_AGGS)}")
    out = _ranged_with_offsets(df, order_by, value_col, window=window, agg=agg)
    return out.withColumnRenamed("rank", rank_col).withColumnRenamed("_agg", agg_col)


def global_rank_scalable(
    df: DataFrame,
    order_by: list[str],
    rank_col: str = "rank",
) -> DataFrame:
    """0-based global rank with no single-partition stage (100 TB path).

    Plan: the range pass with no halo — deterministic histogram borders
    on ``order_by[0]`` with exact per-range counts from the same buckets
    (≈ reference Sample+Sort jobs and O8 sentinel counts), one range
    exchange, and each range's driver-side rank offset added to its
    per-range row_number (≈ O9 prefix-count ranking) — entirely
    JVM-side, no join.
    """
    out = _ranged_with_offsets(df, order_by, None)
    return out.withColumnRenamed("rank", rank_col)


def prefix_scalable(
    df: DataFrame,
    order_by: list[str],
    value_col: str,
    agg: str = "sum",
    out_col: str = "prefix",
    inclusive: bool = True,
) -> DataFrame:
    """Global running ``agg`` ("sum" or "max") of ``value_col`` in
    ``order_by`` order, without a single-partition window.
    ``inclusive=False`` aggregates strictly earlier rows only (an
    exclusive prefix max is NULL for the global first row, an exclusive
    sum 0).  Integer values sum in int64, floats in double; a max keeps
    the value's type.  The running max of event time in arrival order
    is Structured Streaming's watermark bookkeeping; the exclusive
    prefix max is the skyline's dominance test.

    The range pass's prefix mode: each range starts from the total of
    all earlier ranges (its carry-in, from the border histogram's
    per-range totals) — max has no inverse, but carry-in composition is
    associative all the same.
    """
    if agg not in _TOTALS:
        raise ValueError(f"agg must be one of {sorted(_TOTALS)}")
    out = _ranged_with_offsets(df, order_by, value_col, agg=agg, inclusive=inclusive)
    return out.withColumnRenamed("_prefix", out_col).drop("rank")
