"""Golden-output parity with the reference's own test harness.

The reference verifies by byte-diffing the 5-job pipeline's output
against `expected{16,79,91}/` on `input/simple103.txt`
(`/root/reference/test.sh:3-7`).  We replay the same inputs through both
the Window path and the scalable two-pass path and assert row-for-row
equality (order-insensitively — the reference's part-file layout is an
artifact of its final-stage partitioning, not semantics).
"""

from __future__ import annotations

import glob

import pytest
from conftest import shuffle_partitions

from uw_mapreduce_spark.operators.scale import sliding_aggregate_scalable
from uw_mapreduce_spark.operators.window import sliding_sum_kv
from uw_mapreduce_spark.plans.catalog import _REFERENCE_DIR as REF
from uw_mapreduce_spark.sources.text_kv import read_text_kv

WINDOWS = [16, 79, 91]

# The reference tree's own fixtures.  The tests that read them skip only
# where a file they read is absent, and run unchanged wherever it is there.
SIMPLE103 = f"{REF}/input/simple103.txt"


def _needs(*patterns: str):
    missing = [p for p in patterns if not glob.glob(p)]
    return pytest.mark.skipif(bool(missing), reason=f"reference files absent: {', '.join(missing)}")


GOLDEN_WINDOWS = [
    pytest.param(w, marks=_needs(SIMPLE103, f"{REF}/expected{w}/part-r-*")) for w in WINDOWS
]


def load_golden(reference_dir: str, window: int) -> set[tuple[int, int, int]]:
    rows = set()
    for path in glob.glob(f"{reference_dir}/expected{window}/part-r-*"):
        with open(path) as f:
            for line in f:
                line = line.rstrip("\n")
                if not line:
                    continue
                rank, key, agg = (int(x) for x in line.split("\t"))
                rows.add((rank, key, agg))
    assert rows, f"no golden rows found for window {window}"
    return rows


@pytest.mark.parametrize("window", GOLDEN_WINDOWS)
def test_window_path_matches_golden(spark, reference_dir, window):
    kv = read_text_kv(spark, f"{reference_dir}/input/simple103.txt")
    out = sliding_sum_kv(kv, window)
    got = {(r["rank"], r["key"], r["agg"]) for r in out.collect()}
    assert got == load_golden(reference_dir, window)


@pytest.mark.parametrize("window", GOLDEN_WINDOWS)
def test_scalable_path_matches_golden(spark, reference_dir, window):
    kv = read_text_kv(spark, f"{reference_dir}/input/simple103.txt")
    with shuffle_partitions(spark, 4):
        out = sliding_aggregate_scalable(kv, order_by=["key", "value"], value_col="value", window=window)
    got = {(r["rank"], r["key"], r["agg"]) for r in out.select("rank", "key", "agg").collect()}
    assert got == load_golden(reference_dir, window)


@_needs(f"{REF}/input/tosort100.txt")
def test_windowed_count_invariant(spark, reference_dir):
    """tosort100.txt has value=1: window sum degenerates to a windowed
    count == min(rank+1, l) (FIXTURES.md F2's self-checking oracle)."""
    kv = read_text_kv(spark, f"{reference_dir}/input/tosort100.txt")
    for window in (1, 16, 100):
        out = sliding_sum_kv(kv, window).collect()
        assert len(out) == 100
        for r in out:
            assert r["agg"] == min(r["rank"] + 1, window), (window, r)


def _window_model(rows, window, agg):
    """Python model of the reference query: rank over (key, value), then
    ``agg`` over the trailing ranks [max(0, r-window+1), r]."""
    ordered = sorted(rows)
    out = set()
    for r, (key, _) in enumerate(ordered):
        win = [v for _, v in ordered[max(0, r - window + 1): r + 1]]
        if agg == "avg":
            out.add((r, key, sum(win) / len(win)))
        else:
            out.add((r, key, {"sum": sum, "count": len, "min": min, "max": max}[agg](win)))
    return out


def test_simple103_analogue_matches_model(spark):
    """The golden trio's shape without the reference mount: 103 rows with
    key == value and one duplicate key, P=4 (~26 rows per range), windows
    16 < 26 < 79, 91 (the halo spans several ranges) and l > n.  The
    Window path and both scalable paths must equal the Python model for
    every aggregate."""
    from uw_mapreduce_spark.operators.window import sliding_aggregate

    keys = [(i * 37) % 102 for i in range(102)] + [50]
    rows = [(k, k) for k in keys]
    kv = spark.createDataFrame(rows, "key long, value long")
    for window in (*WINDOWS, 200):
        for agg in ("sum", "count", "avg", "min", "max"):
            want = _window_model(rows, window, agg)
            with shuffle_partitions(spark, 4):
                paths = {
                    "window": sliding_aggregate(kv, ["key", "value"], "value", window, agg=agg),
                    "scalable": sliding_aggregate_scalable(kv, ["key", "value"], "value", window, agg=agg),
                }
            for path, out in paths.items():
                got = {(r["rank"], r["key"], r["agg"]) for r in out.collect()}
                assert got == want, (path, window, agg)


def test_tosort100_analogue_windowed_count(spark):
    """tosort100's self-checking property without the mount: with every
    value 1 (duplicate keys included), the trailing sum is
    min(rank+1, l) on the Window and the scalable path alike."""
    from uw_mapreduce_spark.operators.window import sliding_aggregate

    kv = spark.createDataFrame([((i * 53) % 61, 1) for i in range(100)], "key long, value long")
    for window in (1, 16, 100, 150):
        with shuffle_partitions(spark, 4):
            outs = (
                sliding_aggregate(kv, ["key", "value"], "value", window),
                sliding_aggregate_scalable(kv, ["key", "value"], "value", window),
            )
        for out in outs:
            rows = out.collect()
            assert sorted(r["rank"] for r in rows) == list(range(100))
            for r in rows:
                assert r["agg"] == min(r["rank"] + 1, window), (window, r)


@_needs(f"{REF}/input/tosort100000.txt")
def test_two_path_agreement_100k(spark, reference_dir):
    """Window path ≡ scalable path on the reference's largest shipped
    input (`input/tosort100000.txt`, 100k rows — the scale row of
    BASELINE.md).  The golden trio is 103 rows × 4 partitions; this is
    the first time border sampling sees real volume: the adaptive
    modulus must produce a bounded sample whose borders still yield the
    exact global order.  `tosort100000` has 4,564 duplicate keys, so the
    total order (key, value) is the only deterministic ranking — both
    paths order by it.  Comparison is done Spark-side (columns aligned;
    `exceptAll` is positional) to avoid a 100k-row driver collect."""
    from uw_mapreduce_spark.operators.scale import _deterministic_borders
    from uw_mapreduce_spark.operators.window import sliding_aggregate

    kv = read_text_kv(spark, f"{reference_dir}/input/tosort100000.txt").cache()
    assert kv.count() == 100_000

    borders = _deterministic_borders(kv, "key", 8)
    assert borders == sorted(borders) and len(borders) <= 7
    assert borders == _deterministic_borders(kv, "key", 8)  # pure function of data

    cols = ["rank", "key", "value", "agg"]
    for window in (10, 500):
        with shuffle_partitions(spark, 8):
            sc = sliding_aggregate_scalable(
                kv, order_by=["key", "value"], value_col="value", window=window
            ).select(*cols)
        wd = sliding_aggregate(
            kv, order_by=["key", "value"], value_col="value", window=window
        ).select(*cols)
        assert sc.exceptAll(wd).count() == 0
        assert wd.exceptAll(sc).count() == 0

    # Non-invertible path (block decomposition) at the same volume.
    with shuffle_partitions(spark, 8):
        mm = sliding_aggregate_scalable(
            kv, order_by=["key", "value"], value_col="value", window=500, agg="min"
        ).select(*cols)
    wd_min = sliding_aggregate(
        kv, order_by=["key", "value"], value_col="value", window=500, agg="min"
    ).select(*cols)
    assert mm.exceptAll(wd_min).count() == 0
    assert wd_min.exceptAll(mm).count() == 0
    kv.unpersist()


def test_borders_bounded_and_balanced_under_skew(spark):
    """The adaptive border sample must (a) collapse a hot key to one
    weighted row instead of flooding the driver, and (b) still choose
    borders by cumulative ROW weight, so the hot key's mass pulls
    borders toward equal row counts per partition."""
    from pyspark.sql import functions as F

    from uw_mapreduce_spark.operators.scale import _deterministic_borders, _pid_expr

    # 50k rows of key=7 (hot), 10k distinct cold keys above it.
    hot = spark.range(50_000).select(F.lit(7).alias("k"))
    cold = spark.range(10_000).select((F.col("id") + 100).alias("k"))
    df = hot.unionAll(cold).select(F.col("k").cast("long").alias("k"))

    borders = _deterministic_borders(df, "k", 8, sample_per_partition=64)
    assert borders == sorted(borders) and 0 < len(borders) <= 7
    assert borders == _deterministic_borders(df, "k", 8, sample_per_partition=64)

    # The hot key owns ~5/6 of all rows: with row-weighted borders the
    # first range must end AT the hot key (all its duplicates share one
    # partition; the cold tail spreads over the rest).
    assert borders[0] == 7
    counts = [
        r["count"]
        for r in df.withColumn("_pid", _pid_expr("k", borders))
        .groupBy("_pid").count().orderBy("_pid").collect()
    ]
    # No cold partition should carry more rows than the hot partition,
    # and the cold tail spreads over at least one range of its own.
    assert max(counts[1:]) <= counts[0]
    assert len(counts) >= 3


def test_borders_histogram_partitioning_invariant(spark):
    """The histogram border pass must be a pure function of the data
    MULTISET: identical borders whatever the input partitioning (its
    aggregates are all commutative), identical across repeated calls,
    strings (which the histogram cannot bin) take the exact path, and
    non-finite doubles still yield sorted borders."""
    from pyspark.sql import functions as F

    from uw_mapreduce_spark.operators.scale import _deterministic_borders

    df = spark.range(100_000).select(
        (F.xxhash64("id") % 1_000_003).cast("double").alias("v"),
        F.col("id").cast("string").alias("s"),
    )
    b1 = _deterministic_borders(df.repartition(1), "v", 16)
    b13 = _deterministic_borders(df.repartition(13, "s"), "v", 16)
    b32 = _deterministic_borders(df.repartition(32), "v", 16)
    assert b1 == b13 == b32 and b1 == sorted(b1) and 10 <= len(b1) <= 15

    # String keys: exact-sample fallback, still deterministic + sorted.
    bs = _deterministic_borders(df, "s", 8)
    assert bs == sorted(bs) and bs == _deterministic_borders(df, "s", 8)

    # Non-finite doubles: ±inf take the log-scale histogram's two
    # extreme buckets and the finite keys still produce usable borders.
    inf = spark.range(10_000).select(
        F.when(F.col("id") % 100 == 0, F.lit(float("inf")))
        .when(F.col("id") % 100 == 1, F.lit(float("-inf")))
        .otherwise(F.col("id").cast("double"))
        .alias("v")
    )
    bi = _deterministic_borders(inf, "v", 8)
    assert bi == sorted(bi) and len(bi) > 0


def test_scalable_invariant_5m_rows_with_hot_key(spark):
    """Self-checking scale stress: 5M rows (4.5M unique keys + one key
    duplicated 500k times) with value=1, so the trailing-window sum must
    equal min(rank+1, l) at every row — verified distributedly, no
    single-partition comparison path.  Exercises adaptive border
    sampling, the heavy-hitter union, driver rank offsets, and halo
    replication across ranges at 50x the reference's largest input.
    (The full two-path exceptAll agreement at this volume was also run
    once — 0 mismatches — but costs ~140s via the single-partition
    Window path, so the suite keeps the invariant form.)"""
    import pyspark.sql.functions as F

    from uw_mapreduce_spark.operators.scale import sliding_aggregate_scalable

    base = spark.range(4_500_000).select(
        F.col("id").alias("key"), F.lit(1).cast("long").alias("value")
    )
    hot = spark.range(500_000).select(
        F.lit(2_250_000).cast("long").alias("key"), F.lit(1).cast("long").alias("value")
    )
    df = base.unionByName(hot).withColumn("u", F.monotonically_increasing_id())
    with shuffle_partitions(spark, 32):
        out = sliding_aggregate_scalable(df, ["key", "u"], "value", window=1000)
    assert out.where(F.col("agg") != F.least(F.col("rank") + 1, F.lit(1000))).count() == 0
    assert out.count() == 5_000_000


def test_pack_documents_1m_rows_distributed_invariants(spark):
    """Packing at 1M docs with skewed sizes, verified DISTRIBUTEDLY (no
    driver collect of the output): the stream is contiguous (every doc's
    start equals the previous doc's end — checked via a rank-shifted
    self-join), and the final offset equals the total token count."""
    import pyspark.sql.functions as F

    from uw_mapreduce_spark.operators.packing import pack_documents

    docs = spark.range(1_000_000).select(
        F.col("id").alias("doc_id"),
        (F.when(F.col("id") % 1000 == 0, 50_000).otherwise(F.col("id") % 70)).cast("long").alias("n_tokens"),
    )
    with shuffle_partitions(spark, 32):
        out = pack_documents(docs, "n_tokens", budget=8192, order_by=["doc_id"])
    total = docs.agg(F.sum("n_tokens")).collect()[0][0]
    # end of the last doc == total tokens; every end == next start
    ends = out.select("doc_id", (F.col("start_offset") + F.col("n_tokens")).alias("end"))
    nxt = out.select((F.col("doc_id") - 1).alias("doc_id"), F.col("start_offset").alias("next_start"))
    joined = ends.join(nxt, "doc_id", "left")
    bad = joined.where(
        F.col("next_start").isNotNull() & (F.col("next_start") != F.col("end"))
    ).count()
    assert bad == 0
    assert ends.agg(F.max("end")).collect()[0][0] == total
    # spot-check span arithmetic distributedly
    assert out.where(
        (F.col("n_tokens") > 0)
        & (F.col("last_pack") != F.floor((F.col("start_offset") + F.col("n_tokens") - 1) / 8192))
    ).count() == 0
