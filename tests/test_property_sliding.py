"""Property-based check: every sliding path agrees with a pure-Python
brute-force model on arbitrary inputs (hypothesis-generated)."""

from __future__ import annotations

from conftest import shuffle_partitions
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from uw_mapreduce_spark.operators.scale import sliding_aggregate_scalable
from uw_mapreduce_spark.operators.window import sliding_aggregate

_NONFINITE = st.sampled_from([float("nan"), float("inf"), float("-inf")])
_KEYS = {
    "long": st.integers(-1000, 1000),
    "double": st.none() | _NONFINITE | st.integers(-50, 50).map(float),
}
_VALUES = {
    "long": st.integers(-10**6, 10**6),
    "int": st.none() | st.integers(-1000, 1000),
    # halves: finite sums are exact in double whatever the order
    "double": st.none() | _NONFINITE | st.integers(-2000, 2000).map(lambda x: x / 2),
}


@st.composite
def sliding_inputs(draw):
    key_t, value_t = draw(st.sampled_from([("long", "long"), ("long", "int"), ("double", "double")]))
    rows = draw(st.lists(st.tuples(_KEYS[key_t], _VALUES[value_t]), min_size=1, max_size=40))
    return f"key {key_t}, value {value_t}", rows


def spark_order(x):
    """Sort key for Spark's ascending order: NULL first, NaN last."""
    if x is None:
        return (0, 0.0)
    return (2, 0.0) if x != x else (1, x)


def comparable(x):
    return "NaN" if isinstance(x, float) and x != x else x


def brute(rows, l, agg):
    """(rank, agg) over [max(0, r-l+1), r] in (key, value) order, with
    SQL semantics: NULL values skipped, NULL sum/avg/min/max over a frame
    with no value, NaN above every value for min/max."""
    ordered = sorted(rows, key=lambda kv: (spark_order(kv[0]), spark_order(kv[1])))
    out = []
    for r in range(len(ordered)):
        win = [v for _, v in ordered[max(0, r - l + 1): r + 1] if v is not None]
        if agg == "count":
            a = len(win)
        elif not win:
            a = None
        elif agg == "avg":
            a = sum(win) / len(win)
        elif agg == "sum":
            a = sum(win)
        else:
            a = {"min": min, "max": max}[agg](win, key=spark_order)
        out.append((r, comparable(a)))
    return out


def ranked(df):
    return sorted((r["rank"], comparable(r["agg"])) for r in df.collect())


_INF = float("inf")


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(inputs=sliding_inputs(), l=st.integers(1, 50))
# all-equal keys: one range, no borders
@example(inputs=("key long, value long", [(7, v) for v in range(-12, 12)]), l=5)
# NULL, NaN and ±inf keys; NULL, NaN and ±inf values leaving the frame
@example(inputs=("key double, value double", [
    (None, 1.0), (float("nan"), 2.0), (_INF, None), (-_INF, 4.0), (0.0, _INF),
    (1.0, 1.5), (2.0, -_INF), (3.0, float("nan")), (4.0, 2.5), (5.0, None),
    (6.0, 3.0), (7.0, -1.0), (None, None), (float("nan"), _INF), (8.0, 0.5),
]), l=3)
# nullable ints: frames with no value
@example(inputs=("key long, value int", [(k, None if k % 3 else k) for k in range(20)]), l=3)
# l > n
@example(inputs=("key long, value long", [(k, k * k) for k in range(12)]), l=40)
# l larger than one range (~14 rows each at P=3), halo spanning two ranges
@example(inputs=("key long, value long", [(k, k % 7 - 3) for k in range(41)]), l=33)
# the halo walk at P=3 on 30 distinct keys (three ranges of 10): l = n/P - 1,
# n/P, n/P + 1, 3n/P (= n at P=3) and 2n
@example(inputs=("key long, value long", [(k, k % 5 - 2) for k in range(30)]), l=9)
@example(inputs=("key long, value long", [(k, k % 5 - 2) for k in range(30)]), l=10)
@example(inputs=("key long, value long", [(k, k % 5 - 2) for k in range(30)]), l=11)
@example(inputs=("key long, value long", [(k, k % 5 - 2) for k in range(30)]), l=30)
@example(inputs=("key long, value long", [(k, k % 5 - 2) for k in range(30)]), l=60)
# NULL keys the walk reaches: l-1 is more than range 0's keyed rows
@example(inputs=("key double, value double", [
    (None if k < 5 else float(k), k / 2) for k in range(30)
]), l=12)
# one heavy key fills a whole interval, the next range's halo
@example(inputs=("key long, value long", [
    (k if k < 9 else 9 if k < 21 else k - 11, k) for k in range(30)
]), l=5)
# more partitions than distinct keys
@example(inputs=("key long, value long", [(k % 2, k) for k in range(9)]), l=4)
# empty input
@example(inputs=("key long, value long", []), l=3)
def test_sliding_paths_match_brute_force(spark, inputs, l):
    schema, rows = inputs
    df = spark.createDataFrame(rows, schema)
    assert ranked(sliding_aggregate(df, ["key", "value"], "value", l)) == brute(rows, l, "sum")
    for agg in ("sum", "count", "avg"):
        with shuffle_partitions(spark, 3):
            out = sliding_aggregate_scalable(df, ["key", "value"], "value", l, agg=agg)
        assert ranked(out) == brute(rows, l, agg), agg
    for agg in ("min", "max"):
        with shuffle_partitions(spark, 3):
            out = sliding_aggregate_scalable(df, ["key", "value"], "value", l, agg=agg)
        assert ranked(out) == brute(rows, l, agg), agg


@settings(deadline=None, max_examples=12, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(1, 50)),  # (key, multiplicity)
        min_size=1, max_size=12, unique_by=lambda t: t[0],
    ),
    st.integers(2, 6),
)
def test_borders_partition_invariants(spark, key_mults, p):
    """For arbitrary key multisets (including heavy keys): borders are
    sorted, within the key domain, deterministic, and the derived
    ranges cover every row exactly once."""
    import pyspark.sql.functions as F

    from uw_mapreduce_spark.operators.scale import _deterministic_borders, _pid_expr

    rows = [(k,) for k, m in key_mults for _ in range(m)]
    df = spark.createDataFrame(rows, "k long")
    borders = _deterministic_borders(df, "k", p, sample_per_partition=4)
    assert borders == sorted(set(borders))
    assert len(borders) <= p - 1
    keys = sorted(k for k, _ in key_mults)
    assert all(keys[0] <= b <= keys[-1] for b in borders)
    assert borders == _deterministic_borders(df, "k", p, sample_per_partition=4)
    tagged = df.withColumn("_pid", _pid_expr("k", borders))
    assert tagged.count() == len(rows)            # total cover, no loss
    assert tagged.where(F.col("_pid").isNull()).count() == 0
    # ranges are order-respecting: max key of partition i < min key of i+1
    bounds = tagged.groupBy("_pid").agg(
        F.min("k").alias("lo"), F.max("k").alias("hi")
    ).orderBy("_pid").collect()
    for a, b in zip(bounds, bounds[1:]):
        assert a["hi"] < b["lo"]
    # the histogram's exact rows per range
    assert borders.counts == _range_rows(tagged, len(borders) + 1)


def _range_rows(tagged, parts, value=None):
    """Rows (or sum and max of ``value``) per ``_pid``, 0 / None for an
    empty range."""
    import pyspark.sql.functions as F

    if value is None:
        got = dict(tagged.groupBy("_pid").count().collect())
        return [got.get(j, 0) for j in range(parts)]
    agged = tagged.groupBy("_pid").agg(F.sum(value), F.max(value)).collect()
    got = {r[0]: (r[1], r[2]) for r in agged}
    return [got.get(j, (None, None)) for j in range(parts)]


def _check_exact_counts(df, p):
    """``counts`` and the sum/max ``totals`` of the borders equal a
    groupBy over the ranges ``_pid_expr`` routes rows to."""
    from uw_mapreduce_spark.operators.scale import _deterministic_borders, _pid_expr

    borders = _deterministic_borders(df, "k", p)
    parts = len(borders) + 1
    tagged = df.withColumn("_pid", _pid_expr("k", borders))
    assert borders.counts == _range_rows(tagged, parts)
    want = _range_rows(tagged, parts, "v")
    for i, agg in enumerate(("sum", "max")):
        b = _deterministic_borders(df, "k", p, value_col="v", agg=agg)
        assert b == borders and b.counts == borders.counts
        assert [t if t == t else "nan" for t in b.totals] == [
            w[i] if w[i] == w[i] else "nan" for w in want
        ], agg
    return borders


def test_border_counts_exact_on_special_keys(spark):
    """Exact per-range counts and value totals on the key shapes the
    histogram must place correctly: NULL, NaN, ±inf and signed zeros
    (NULL in range 0, NaN in the last), a heavy key, a one-month span of
    µs timestamps (one or two log-scale buckets before refinement) and
    strings (the exact fallback)."""
    import pyspark.sql.functions as F

    nan, inf = float("nan"), float("inf")
    special = [None, nan, inf, -inf, -0.0, 0.0] + [float(i) for i in range(-40, 40)]
    rows = [(k, float(i % 7) - 3) for i, k in enumerate(special * 4)]
    b = _check_exact_counts(spark.createDataFrame(rows, "k double, v double"), 6)
    assert len(b) == 5 and b.counts[0] >= 4 and b.counts[-1] >= 4

    ids = spark.range(6000)
    heavy = ids.select(
        F.when(F.col("id") < 4000, F.lit(7)).otherwise(F.col("id")).cast("long").alias("k"),
        (F.col("id") % 13).alias("v"),
    )
    assert _check_exact_counts(heavy, 8)[0] == 7

    month_us = 31 * 86_400 * 10**6
    ts = ids.select(
        F.timestamp_micros(F.lit(1_700_000_000_000_000) + F.pmod(F.xxhash64("id"), F.lit(month_us)))
        .alias("k"),
        F.col("id").alias("v"),
    )
    counts = _check_exact_counts(ts, 8).counts
    assert len(counts) == 8 and max(counts) * 8 < 1.15 * 6000, counts

    strings = ids.select(F.col("id").cast("string").alias("k"), F.col("id").alias("v"))
    assert len(_check_exact_counts(strings, 8)) == 7


pack_strategy = st.lists(st.integers(0, 50), min_size=1, max_size=30)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(sizes=pack_strategy, budget=st.integers(1, 64))
def test_pack_documents_matches_brute_force(spark, sizes, budget):
    """Token-stream packing agrees with a pure-Python prefix-sum model
    on arbitrary document-size multisets and budgets (incl. budget=1,
    zero-token docs, docs far larger than the budget)."""
    from uw_mapreduce_spark.operators.packing import pack_documents

    rows = [(i, n) for i, n in enumerate(sizes)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    with shuffle_partitions(spark, 3):
        out = pack_documents(df, "n_tokens", budget=budget, order_by=["doc_id"])
    got = sorted(
        (r.doc_id, r.start_offset, r.first_pack, r.last_pack, r.n_packs_spanned)
        for r in out.collect()
    )
    expected, off = [], 0
    for i, n in enumerate(sizes):
        first = off // budget
        last = (off + n - 1) // budget if n > 0 else first
        expected.append((i, off, first, last, last - first + 1))
        off += n
    assert got == expected


gap_rows_strategy = st.lists(
    st.tuples(st.integers(1, 3), st.integers(0, 40), st.integers(-100, 100)),
    min_size=1,
    max_size=25,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=gap_rows_strategy)
def test_gap_fill_matches_brute_force(spark, rows):
    """gap_fill_locf agrees with a pure-Python model on arbitrary
    (key, hour, value) multisets — duplicate buckets (last ts wins,
    value desc as tiebreak on equal ts), gaps, single-point keys."""
    import datetime

    from uw_mapreduce_spark.operators.resample import gap_fill_locf

    t0 = datetime.datetime(2024, 1, 1)
    data = [
        (k, t0 + datetime.timedelta(hours=h), v) for k, h, v in rows
    ]
    df = spark.createDataFrame(data, "k long, ts timestamp, v long")
    got = {
        (r.k, r.bucket): (r.n_obs, r.carried)
        for r in gap_fill_locf(df, ["k"], "ts", "v").collect()
    }

    base = int(t0.replace(tzinfo=datetime.timezone.utc).timestamp()) // 3600
    per_key: dict = {}
    for k, h, v in rows:
        per_key.setdefault(k, {}).setdefault(h, []).append(v)
    expected = {}
    for k, buckets in per_key.items():
        lo, hi = min(buckets), max(buckets)
        carried = None
        for h in range(lo, hi + 1):
            if h in buckets:
                # same ts within bucket: operator breaks ties by value desc
                carried = max(buckets[h])
                expected[(k, base + h)] = (len(buckets[h]), carried)
            else:
                expected[(k, base + h)] = (0, carried)
    assert got == expected
