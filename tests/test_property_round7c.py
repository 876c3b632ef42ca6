"""Round-7 session-3 hypothesis properties: exact AUC vs a brute-force
pair model (tie-rich inputs), two-pass heavy hitters vs Counter truth
under random capacity/partitioning, and U-shaped attribution credit
conservation."""

from __future__ import annotations

from collections import Counter

from conftest import shuffle_partitions
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SETTINGS = dict(
    deadline=None,
    max_examples=10,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(st.booleans(), st.integers(min_value=0, max_value=5)),
        min_size=2, max_size=40,
    ),
)
def test_auc_pair_model_property(spark, rows):
    """num2 == brute-force 2·U on tie-rich integer scores (scores drawn
    from 0..5 so ties are the common case, exercising the half-credit
    path)."""
    from uw_mapreduce_spark.operators.evaluation import roc_auc

    if not any(p for p, _ in rows) or all(p for p, _ in rows):
        return  # AUC undefined without both classes
    df = spark.createDataFrame(
        [(i, int(p), float(s)) for i, (p, s) in enumerate(rows)],
        "vec_id long, is_pos long, score double",
    )
    num2 = sum(
        2 if sp > sn else (1 if sp == sn else 0)
        for p, sp in rows if p
        for q, sn in rows if not q
    )
    with shuffle_partitions(spark, 4):
        out = roc_auc(df)
    r = out.collect()[0]
    assert r["num2"] == num2
    assert r["auc_micro"] == num2 * 1_000_000 // (2 * r["n_pos"] * r["n_neg"])


@settings(**_SETTINGS)
@given(
    vals=st.lists(st.integers(min_value=0, max_value=15), min_size=5, max_size=200),
    k=st.integers(min_value=2, max_value=12),
    extra=st.integers(min_value=0, max_value=20),
    parts=st.sampled_from([1, 3, 8]),
)
def test_heavy_hitters_exactness_property(spark, vals, k, extra, parts):
    """Output == {v: c | c·k > n} with exact counts, for ANY capacity
    ≥ k and ANY partitioning — MG pruning must never lose a true heavy
    hitter or admit a light one."""
    from uw_mapreduce_spark.operators.heavyhitters import exact_heavy_hitters

    df = spark.createDataFrame(
        [(str(v),) for v in vals], "g string"
    ).repartition(parts)
    got = {
        r["g"]: r["cnt"]
        for r in exact_heavy_hitters(df, "g", k=k, capacity=k + extra).collect()
    }
    c = Counter(str(v) for v in vals)
    want = {key: n for key, n in c.items() if n * k > len(vals)}
    assert got == want, (k, extra, parts)


@settings(**_SETTINGS)
@given(
    n_clicks=st.integers(min_value=1, max_value=8),
)
def test_position_attribution_conservation(spark, n_clicks):
    """One purchase with n prior clicks: credits are 1000 (n=1),
    500+500 (n=2), else 400+400+(n−2)·⌊200/(n−2)⌋ — total never
    exceeds 1000 and floor loss is < n−2."""
    import __spark_entry__ as e
    import duckdb

    con = duckdb.connect()
    # one user: clicks at minute 1..n, purchase at minute n+1
    rows = [
        (i, f"2024-01-01 00:{i:02d}:00", 7, "click") for i in range(1, n_clicks + 1)
    ] + [(99, f"2024-01-01 00:{n_clicks + 1:02d}:00", 7, "purchase")]
    con.execute(
        "CREATE TABLE events AS SELECT * FROM (VALUES "
        + ",".join(
            f"({i}, TIMESTAMP '{ts}', {u}, '{t}', 0.0, NULL)"
            for i, ts, u, t in rows
        )
        + ") AS t(event_id, ts, user_id, event_type, value, props)"
    )
    sql = e.oracle_sql()["position_attribution_events"]
    out = con.execute(sql).fetchall()
    total = sum(r[2] for r in out)
    if n_clicks <= 2:
        assert total == 1000
    else:
        expect = 800 + (n_clicks - 2) * (200 // (n_clicks - 2))
        assert total == expect
        assert 1000 - (n_clicks - 2) < total <= 1000
