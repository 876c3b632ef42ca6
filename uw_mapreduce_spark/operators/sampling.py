"""Sampling + equi-depth quantile borders.

Reference parity:
- O4 Bernoulli sample: `SampleMapper` keeps each record with probability
  ``my.threshold`` via an unseeded coin flip
  (`/root/reference/src/SlidingAggregation.java:38-55`).  We expose the
  same filter but SEEDED — the reference's nondeterminism never affects
  answers (SURVEY.md §2.3.7), and determinism is what lets tests exist.
- O5 quantile borders: `SampleReducer` collects the whole sample on ONE
  reducer, sorts in memory, and emits the P-1 equi-depth quantiles
  (`SlidingAggregation.java:57-84`, `chooseBorders` :75-83, forced single
  reducer :444).  That single-reducer collect is the reference's
  scalability bug; Spark's `RangePartitioner` (inside `repartitionByRange`
  / `orderBy`) does the same job with a distributed reservoir sample, so
  the *engine* never calls this — it exists as a queryable operator for
  parity and for explicit-border workflows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .scale import global_rank_scalable


def bernoulli_sample(df: DataFrame, fraction: float, seed: int = 42) -> DataFrame:
    """O4: keep each row independently with probability ``fraction``."""
    return df.sample(withReplacement=False, fraction=fraction, seed=seed)


def equi_depth_borders(df: DataFrame, col: str, num_partitions: int) -> DataFrame:
    """O5: the P-1 equi-depth partition borders of ``col``.

    Border semantics mirror `chooseBorders` (`SlidingAggregation.java:75-83`):
    with s sorted sample values and P partitions, border i (1-based) is the
    sample element at 0-based index ``floor((i * s) / P) - 1`` clamped to
    >= 0 — i.e. the largest value of the i-th equi-depth bucket.  Exact
    (no sampling) so it is DuckDB-oracle-checkable; production code uses
    `repartitionByRange`, which samples internally.

    No single-partition stage: positions come from
    ``scale.global_rank_scalable`` (range-partitioned two-pass prefix
    count, O(n/P) per task) plus one scalar ``count()``; the P-1 target
    positions broadcast-join against the ranked frame.  Ties take
    arbitrary ranks, but every row in a run of equal values carries the
    same value, so the border VALUE at a position is deterministic.

    Returns (border_idx long, border <col-type>).
    """
    spark = df.sparkSession
    vals = df.select(F.col(col).alias("border"))
    n = vals.count()
    if num_partitions <= 1 or n == 0:
        # StructType.add mutates in place — build a fresh schema so the
        # cached vals.schema is never corrupted.
        schema = T.StructType(
            list(vals.schema.fields) + [T.StructField("border_idx", T.LongType())]
        )
        return spark.createDataFrame([], schema).select("border_idx", "border")
    ranked = global_rank_scalable(vals, ["border"], rank_col="_rn")
    targets = [
        (i, max((i * n) // num_partitions, 1) - 1) for i in range(1, num_partitions)
    ]
    tdf = spark.createDataFrame(targets, "border_idx long, _rn long")
    return ranked.join(F.broadcast(tdf), "_rn").select("border_idx", "border")


def order_statistic_bounds(
    df: DataFrame,
    key_cols: list[str],
    val_col: str,
    lo_permille: int,
    hi_permille: int,
) -> DataFrame:
    """Per-group (lo, hi) order statistics by rank position: with n rows
    in a group, the lo bound is the value at 0-based sorted index
    (n−1)·lo_permille // 1000 (hi likewise) — pure integer rank math, so
    any engine computes the identical bound (no interpolation, no
    float percentile semantics to disagree on).

    Scalable plan: aggregate to per-(group, value) counts FIRST, then a
    window over the distinct values only.  The window's partition is
    bounded by the group's value cardinality (vocabulary-sized), never
    its row count — the same shuffle-the-histogram-not-the-corpus
    argument as `token_histogram_documents`.  One count shuffle, one
    (tiny) window, broadcastable output.
    """
    from pyspark.sql.window import Window

    counts = df.groupBy(*key_cols, val_col).agg(F.count(F.lit(1)).alias("_c"))
    w = Window.partitionBy(*key_cols).orderBy(val_col)
    cum = counts.withColumn("_cum", F.sum("_c").over(w)).withColumn(
        "_n", F.sum("_c").over(Window.partitionBy(*key_cols))
    )
    k_lo = F.expr(f"(_n - 1) * {int(lo_permille)} DIV 1000")
    k_hi = F.expr(f"(_n - 1) * {int(hi_permille)} DIV 1000")
    # The k-th order statistic is the smallest value whose cumulative
    # count exceeds k.
    return cum.groupBy(*key_cols).agg(
        F.min(F.when(F.col("_cum") > k_lo, F.col(val_col))).alias("lo"),
        F.min(F.when(F.col("_cum") > k_hi, F.col(val_col))).alias("hi"),
        F.max("_n").alias("n"),
    )


def winsorized_summary(
    df: DataFrame,
    key_cols: list[str],
    val_col: str,
    lo_permille: int = 50,
    hi_permille: int = 950,
) -> DataFrame:
    """Winsorization audit per group: clamp values to the [lo, hi]
    rank-based bounds and report how much moved — the outlier-taming
    pass a metric or reward column gets before training statistics.

    Output per group: n, lo/hi bounds, rows clamped at each end, and
    the post-clamp sum.  The bounds frame is group-cardinality-sized,
    so the join back is a broadcast; the final aggregation partial-
    aggregates map-side.
    """
    bounds = order_statistic_bounds(df, key_cols, val_col, lo_permille, hi_permille)
    v = F.col(val_col)
    clamped = df.join(F.broadcast(bounds.drop("n")), key_cols)
    return clamped.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.max("lo").alias("lo"),
        F.max("hi").alias("hi"),
        F.sum(F.when(v < F.col("lo"), 1).otherwise(0)).alias("n_clamped_lo"),
        F.sum(F.when(v > F.col("hi"), 1).otherwise(0)).alias("n_clamped_hi"),
        F.sum(F.greatest(F.least(v, F.col("hi")), F.col("lo"))).alias("sum_winsorized"),
    )


def pps_sample(
    df: DataFrame,
    weight_col: str,
    expected_k: int,
    id_col: str,
) -> DataFrame:
    """Probability-proportional-to-size (Poisson/PPS) sampling with a
    PORTABLE deterministic draw: row i is kept with probability
    ``min(1, k·w_i / W)`` (W = Σ weights), giving an expected sample of
    ~k rows biased toward heavy rows — the weighted analogue of the
    reference's Bernoulli sample (O4), and the standard first stage of
    weighted corpus subsampling.

    The coin flip is ``u32 < p·2³²`` with u32 = the first 8 md5 hex
    digits of the id — pure INTEGER arithmetic both Spark and any SQL
    engine reproduce bit-for-bit, so unlike RNG-based sampling this is
    fully value-hash oracle-checkable (the keep decision compares
    ``u32 · W < k · w_i · 2³²`` — no division, no floats).

    Overflow-safe at any scale: the comparison runs in DECIMAL(38,0) on
    BOTH sides unconditionally (ADVICE r6 — the previous int64 compare
    silently wrapped once ΣW ≥ 2³¹·u32⁻¹ territory was reached).  Exact
    for W < 10²⁸ and k·max(w) < 10²⁷ — far past 100 TB corpora; the
    matching DuckDB oracle computes the same products in HUGEINT
    (int128), which agrees exactly on that range.  W itself is one
    map-side-combined aggregate either way.

    Returns the kept rows plus (w bigint, u32 bigint) for audit.
    """
    # Internal columns use dunder names: Spark resolves case-insensitively
    # by default, so a bare "W" would collide with a user column named
    # "w" (found by the round-6 hypothesis suite).
    dec = "decimal(38,0)"
    w = F.col(weight_col).cast("long")
    total = df.agg(F.sum(w).alias("__pps_total__"))
    u32 = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    return (
        df.crossJoin(F.broadcast(total))
        .where(
            u32.cast(dec) * F.col("__pps_total__").cast(dec)
            < F.lit(int(expected_k)).cast(dec)
            * w.cast(dec)
            * F.lit(1 << 32).cast(dec)
        )
        .drop("__pps_total__")
    )


def mixture_sample(
    df: DataFrame,
    group_col: str,
    targets_permille: dict[str, int],
    total: int,
    id_col: str,
) -> DataFrame:
    """Deterministic corpus-mixture sampling: draw ~``total`` rows whose
    GROUP proportions match ``targets_permille`` (the data-mixing step
    of LLM corpus assembly — e.g. 60% en / 10% each other language —
    independent of the corpus's own skew).

    Per group g the keep probability is ``total·t_g / (1000·n_g)``
    (capped at 1 when the group is smaller than its quota); the draw is
    the same portable integer md5 coin as `pps_sample`:
    ``u32 · n_g · 1000 < total · t_g · 2³²`` — computed in
    DECIMAL(38,0) on both sides unconditionally (ADVICE r6), so the
    compare never wraps however large n_g grows; the DuckDB oracle
    mirrors it in HUGEINT, exact on the same range, so the SAMPLING
    step itself is value-hash oracle-checkable.  Groups absent from the target map are
    dropped (weight 0).  Group counts are one map-side-combined
    aggregate broadcast back — no corpus reshuffle; the filter is
    codegen over the scan."""
    spark = df.sparkSession
    tdf = spark.createDataFrame(
        [(g, int(p)) for g, p in sorted(targets_permille.items())],
        f"{group_col} string, __mix_t__ long",
    )
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__mix_ng__"))
    u32 = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    return (
        df.join(F.broadcast(tdf), group_col)
        .join(F.broadcast(counts), group_col)
        .where(
            u32.cast("decimal(38,0)")
            * F.col("__mix_ng__").cast("decimal(38,0)")
            * F.lit(1000).cast("decimal(38,0)")
            < F.lit(int(total)).cast("decimal(38,0)")
            * F.col("__mix_t__").cast("decimal(38,0)")
            * F.lit(1 << 32).cast("decimal(38,0)")
        )
        .drop("__mix_t__", "__mix_ng__")
    )


def temperature_mixture_sample(
    df: DataFrame,
    group_col: str,
    total: int,
    id_col: str,
) -> DataFrame:
    """Exponent-smoothed (α = 0.5, "temperature") mixture sampling —
    the multilingual-corpus rebalancing rule of mBERT/XLM-R: group g's
    target share is proportional to ``n_g^0.5`` instead of ``n_g``, so
    rare languages are upsampled RELATIVE to their natural share
    without hand-written targets (contrast `mixture_sample`, which
    takes explicit permille targets).

    Fully deterministic and value-hash oracle-able despite the
    fractional exponent: ``r_g = floor(sqrt(n_g))`` is one
    correctly-rounded IEEE sqrt + floor (bit-identical across
    engines), and the keep decision is then the same portable integer
    md5 coin as the other samplers —

        u32 · n_g · S  <  total · r_g · 2³²,   S = Σ_h r_h

    computed in DECIMAL(38,0) on both sides so it never wraps; keep
    probability per row = total·r_g/(S·n_g), i.e. group g receives
    ~total·r_g/S rows (capped at n_g when the quota exceeds the
    group).  Group counts are one map-side-combined aggregate joined
    back via broadcast — no corpus reshuffle; the filter is codegen
    over the scan."""
    dec = "decimal(38,0)"
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__tm_ng__"))
    counts = counts.withColumn(
        "__tm_rg__", F.floor(F.sqrt(F.col("__tm_ng__"))).cast("long")
    )
    s = counts.agg(F.sum("__tm_rg__").alias("__tm_s__"))
    u32 = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    return (
        df.join(F.broadcast(counts), group_col)
        .crossJoin(F.broadcast(s))
        .where(
            u32.cast(dec) * F.col("__tm_ng__").cast(dec) * F.col("__tm_s__").cast(dec)
            < F.lit(int(total)).cast(dec)
            * F.col("__tm_rg__").cast(dec)
            * F.lit(1 << 32).cast(dec)
        )
        .drop("__tm_ng__", "__tm_rg__", "__tm_s__")
    )


def systematic_sample(
    df: DataFrame,
    order_by: list[str],
    every_k: int,
    offset: int = 0,
) -> DataFrame:
    """Systematic (every k-th) sampling over a total order — the
    survey-methodology sampler: deterministic, evenly spread across
    the ordered population (a time-ordered corpus yields a sample
    uniform IN TIME, which Bernoulli draws only approximate), and
    fully value-hash oracle-able since membership is a pure function
    of rank.

    Keeps rows whose 0-based global rank ≡ offset (mod every_k).  The
    rank is `scale.global_rank_scalable` — range exchange + P-row
    offsets, no single-partition sort — and the modulo keep is a
    map-side filter, so the plan is one range exchange end to end."""
    if every_k < 1:
        raise ValueError("every_k must be >= 1")
    ranked = global_rank_scalable(df, order_by, "__sys_rank")
    return (
        ranked.where(F.col("__sys_rank") % every_k == offset % every_k)
        .drop("__sys_rank")
    )


def priority_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str,
) -> DataFrame:
    """Priority sampling (Duffield-Lund-Thorup): the top-``k`` rows by
    priority qᵢ = wᵢ / uᵢ with uᵢ ∈ (0,1] a deterministic per-id
    uniform — the FIXED-SIZE weighted sample-without-replacement
    companion to `pps_sample` (whose Poisson design only hits k in
    expectation), with the estimator that makes the sample usable for
    downstream totals: ŵᵢ = max(wᵢ, τ) where τ is the (k+1)-th
    priority, giving E[Σŵ over sample] = Σw exactly (their theorem 1).

    The uniform is the portable md5-u32 draw ((u32+1)/2³²), and the
    priority is ONE double expression (w·2³² / (u32+1)) — mul and div
    are correctly-rounded IEEE ops on identical int inputs, so every
    engine orders identically (ties broken by id).  Selection is a
    distributed top-(k+1) (TakeOrdered — no single-partition window
    over the corpus); only the (k+1)-row result sees a window, and τ
    rides back as a 1-row broadcast.

    Returns the k kept rows as (id, w, est) with est = max(w, ⌊τ⌋),
    integer units of ``weight_col``.
    """
    pri_sql = (
        f"CAST({weight_col} AS DOUBLE) * CAST(4294967296.0 AS DOUBLE)"
        f" / CAST(__psu32__ + 1 AS DOUBLE)"
    )
    u32 = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    top = (
        df.select(F.col(id_col), F.col(weight_col), u32.alias("__psu32__"))
        .withColumn("__pspri__", F.expr(pri_sql))
        .orderBy(F.col("__pspri__").desc(), F.col(id_col).asc())
        .limit(k + 1)
    ).localCheckpoint(eager=True)  # k+1 rows feed BOTH tau and the kept
    # set — uncheckpointed, each consumer re-runs the corpus TakeOrdered
    w_rank = Window.orderBy(F.col("__pspri__").desc(), F.col(id_col).asc())
    ranked = top.withColumn("__psrn__", F.row_number().over(w_rank))
    tau = ranked.agg(
        F.coalesce(
            F.max(F.when(F.col("__psrn__") == k + 1, F.col("__pspri__"))),
            F.lit(0.0),
        ).alias("__pstau__")
    )
    return (
        ranked.where(F.col("__psrn__") <= k)
        .crossJoin(F.broadcast(tau))
        .select(
            F.col(id_col),
            F.col(weight_col).cast("long").alias("w"),
            F.greatest(
                F.col(weight_col).cast("long"),
                F.floor(F.col("__pstau__")).cast("long"),
            ).alias("est"),
        )
    )
