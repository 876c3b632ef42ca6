"""Regression pins for the round-7 advice fixes: exact integer
bucketing in the interval overlap join (negative / huge epochs),
type-preserving carry in the prefix max, the empty-compare-cols
guard in table_diff_columns, and the host-sized driver-memory default.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_interval_overlap_exact_for_negative_epochs(spark):
    """Pre-1970 (negative) epoch micros: the pmod-shifted integer DIV
    must bucket exactly — F.floor(s / w) through double would misplace
    boundaries and double-count or drop pairs."""
    from uw_mapreduce_spark.operators.intervals import interval_overlap_join

    w = 3_600_000_000  # 1h buckets
    rows = [
        # exactly on a negative bucket boundary
        (1, -2 * w, -w),
        (2, -w, 0),
        (3, -w // 2, w // 2),
        (4, 5 * w + 1, 6 * w),
    ]
    df = spark.createDataFrame(rows, "iv_id long, t0_us long, t1_us long")
    got = {
        (r.l_iv_id, r.r_iv_id)
        for r in interval_overlap_join(df, df, bucket_us=w).collect()
    }
    # brute-force truth
    expect = {
        (a_id, b_id)
        for (a_id, a0, a1) in rows
        for (b_id, b0, b1) in rows
        if a0 <= b1 and b0 <= a1
    }
    assert got == expect


def test_interval_overlap_emits_each_pair_once(spark):
    """Long intervals sharing many buckets must still surface exactly
    once (the first-overlap-bucket dedup rule), including at negative
    offsets."""
    from uw_mapreduce_spark.operators.intervals import interval_overlap_join

    w = 100
    df = spark.createDataFrame(
        [(1, -1000, 1000), (2, -950, 900)], "iv_id long, t0_us long, t1_us long"
    )
    out = interval_overlap_join(df, df, bucket_us=w).collect()
    pairs = [(r.l_iv_id, r.r_iv_id) for r in out]
    assert sorted(pairs) == [(1, 1), (1, 2), (2, 1), (2, 2)]
    assert len(pairs) == len(set(pairs))


def test_prefix_max_scalable_preserves_value_type(spark):
    """The broadcast carry must take the value column's type: int and
    double inputs previously hit the hardcoded 'long' carry schema."""
    from uw_mapreduce_spark.operators.scale import prefix_scalable

    df = spark.range(30).select(
        F.col("id").alias("i"),
        (F.col("id") % 7).cast("int").alias("v_int"),
        ((F.col("id") % 5) / 2.0).alias("v_dbl"),
    )
    out_i = prefix_scalable(
        df, ["i"], "v_int", agg="max", out_col="prefix_max", num_partitions=4
    ).orderBy("i")
    vals = [r.prefix_max for r in out_i.collect()]
    run = []
    m = None
    for k in range(30):
        m = max(m, k % 7) if m is not None else k % 7
        run.append(m)
    assert vals == run

    out_d = prefix_scalable(
        df, ["i"], "v_dbl", agg="max", out_col="prefix_max", num_partitions=4
    ).orderBy("i")
    dvals = [r.prefix_max for r in out_d.collect()]
    drun = []
    m = None
    for k in range(30):
        x = (k % 5) / 2.0
        m = max(m, x) if m is not None else x
        drun.append(m)
    assert dvals == drun


def test_table_diff_columns_rejects_empty_compare_cols(spark):
    from uw_mapreduce_spark.operators.diff import table_diff_columns

    df = spark.createDataFrame([(1, "a")], "k long, x string")
    with pytest.raises(ValueError, match="compare column"):
        table_diff_columns(df, df, keys=["k"], compare_cols=[])


def test_knn_self_blas_expands_tie_families_on_duplicated_corpus(spark):
    """A corpus with every vector duplicated (the sf1 synthetic shard
    shape) puts exact-tie families across the top-(k+slack) cut; the
    operator must EXPAND the family (keeping the global id-tiebreak
    exact vs brute force) instead of raising."""
    from uw_mapreduce_spark.operators.similarity import knn_bruteforce, knn_self_blas

    base = [(i, [float(i % 4 + 1), float((i * 7) % 5 + 1)]) for i in range(20)]
    dup = base + [(i + 100, v) for i, v in base] + [(i + 200, v) for i, v in base]
    emb = spark.createDataFrame(dup, "vec_id long, embedding array<double>")
    want = {tuple(r) for r in knn_bruteforce(emb, emb, k=5).collect()}
    # tie_slack=2 guarantees families (size >= 3 per sim level per
    # duplicate group, often dozens here) cross the k+slack cut.
    got_single = {tuple(r) for r in knn_self_blas(emb, k=5, tie_slack=2).collect()}
    got_multi = {
        tuple(r)
        for r in knn_self_blas(emb, k=5, tie_slack=2, block_rows=16).collect()
    }
    assert got_single == want
    assert got_multi == want


def test_default_driver_memory_clamped():
    from uw_mapreduce_spark.session import _default_driver_memory

    v = _default_driver_memory()
    assert v.endswith("g")
    assert 4 <= int(v[:-1]) <= 16
