"""Round-7 session-4 hypothesis properties: Mann-Whitney rank-sum
invariants against a brute-force pair/variance model, and matryoshka
energy-retention identities."""

from __future__ import annotations

import math

from conftest import shuffle_partitions
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SETTINGS = dict(
    deadline=None,
    max_examples=10,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _brute_mwu(rows):
    """(n1, n2, u2, z) by definition: pair loop + tie-corrected normal."""
    t = [v for g, v in rows if g]
    c = [v for g, v in rows if not g]
    n1, n2 = len(t), len(c)
    u2 = sum(2 if a > b else (1 if a == b else 0) for a in t for b in c)
    n = n1 + n2
    from collections import Counter

    ties = sum(k**3 - k for k in Counter(v for _, v in rows).values())
    var_num = n1 * n2 * ((n + 1) * n * (n - 1) - ties)
    if var_num <= 0:
        return n1, n2, u2, None
    z = (float(u2 - n1 * n2) / 2.0) * math.sqrt(
        float(12 * n * (n - 1)) / float(var_num)
    )
    return n1, n2, u2, math.floor(1_000_000.0 * z)


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(st.booleans(), st.integers(min_value=-3, max_value=3)),
        min_size=2, max_size=40,
    ),
)
def test_rank_sum_matches_pair_model(spark, rows):
    """u2 and z agree with the brute-force pair count + textbook
    tie-corrected variance on tie-rich integers."""
    from uw_mapreduce_spark.operators.evaluation import rank_sum_test

    n1b, n2b, u2b, zb = _brute_mwu(rows)
    df = spark.createDataFrame(
        [(int(g), int(v)) for g, v in rows], "treated long, v long"
    )
    with shuffle_partitions(spark, 4):
        out = rank_sum_test(df)
    got = out.collect()
    if n1b == 0 or n2b == 0 or zb is None:
        assert got == []
        return
    r = got[0]
    assert (r["n_treatment"], r["n_control"], r["u2_treatment"]) == (n1b, n2b, u2b)
    assert r["z_micro"] == zb


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(st.booleans(), st.integers(min_value=-2, max_value=2)),
        min_size=4, max_size=30,
    ),
)
def test_rank_sum_arm_swap_antisymmetry(spark, rows):
    """Swapping arms complements U (U1 + U2 = n1·n2) and flips z up to
    the shared floor grid: z_micro + z_micro_swapped ∈ {-2, -1, 0}."""
    from uw_mapreduce_spark.operators.evaluation import rank_sum_test

    if not any(g for g, _ in rows) or all(g for g, _ in rows):
        return
    if _brute_mwu(rows)[3] is None:  # all values identical: var == 0
        return
    df = spark.createDataFrame(
        [(int(g), int(v)) for g, v in rows], "treated long, v long"
    )
    sw = spark.createDataFrame(
        [(int(not g), int(v)) for g, v in rows], "treated long, v long"
    )
    with shuffle_partitions(spark, 4):
        outs = rank_sum_test(df), rank_sum_test(sw)
    a, b = (out.collect()[0] for out in outs)
    assert a["u2_treatment"] + b["u2_treatment"] == 2 * a["n_treatment"] * a["n_control"]
    # floor(x) + floor(-x) is 0 (grid point) or -1; allow -2 for the
    # one-ulp sqrt asymmetry between the two float trees.
    assert -2 <= a["z_micro"] + b["z_micro"] <= 0


def test_matryoshka_energy_identities(spark, sf_small):
    """Full-width retention is exactly 1000‰, retention is monotone in
    the prefix, and every per-prefix mean is within [min, 1000]."""
    from uw_mapreduce_spark.plans.catalog_llm import matryoshka_energy_embeddings

    rows = {
        r["prefix_dim"]: r
        for r in matryoshka_energy_embeddings(spark, sf_small).collect()
    }
    assert sorted(rows) == [8, 16, 32, 48]
    means = [rows[p]["mean_keep_permille"] for p in (8, 16, 32, 48)]
    assert means == sorted(means), "energy retention must grow with prefix"
    for p in (8, 16, 32, 48):
        assert 0 <= rows[p]["min_keep_permille"] <= rows[p]["mean_keep_permille"] <= 1000
        assert rows[p]["n_vecs"] > 0


def test_quantile_normalize_invariants(spark, sf_small):
    """Per-source monotonicity (rank map preserves order), outputs drawn
    from the pooled value set, and row count preserved."""
    from uw_mapreduce_spark.plans.catalog import quantile_normalize_events
    from uw_mapreduce_spark.sources.tables import load_table

    out = quantile_normalize_events(spark, sf_small)
    ev = load_table(spark, sf_small, "events")
    assert out.count() == ev.count()
    rows = out.collect()
    pooled = {r["value_u"] for r in rows}
    by_src: dict = {}
    for r in rows:
        assert r["normalized_u"] in pooled
        by_src.setdefault(r["event_type"], []).append(
            (r["value_u"], r["normalized_u"])
        )
    for pairs in by_src.values():
        pairs.sort()
        norms = [n for _, n in pairs]
        assert norms == sorted(norms), "rank map must preserve order"


def test_ewma_matches_python_replay(spark, sf_small):
    """Partition-level Arrow scan ≡ pure-Python per-user replay,
    including trunc-toward-zero division on negative deviations."""
    from uw_mapreduce_spark.plans.catalog import ewma_user_value_events

    rows = ewma_user_value_events(spark, sf_small).collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for seq in by_user.values():
        seq.sort(key=lambda r: r["ts_us"])
        s = None
        for r in seq:
            v = r["value_u"]
            if s is None:
                s = v
            else:
                diff = v - s
                s += diff // 8 if diff >= 0 else -((-diff) // 8)
            assert r["ewma_u"] == s


def test_mmr_rerank_structure(spark, sf_small):
    """5 distinct picks per query, ranks 1..5, and the rank-1 score is
    7× the pool's best relevance (no diversity penalty at step 1)."""
    from uw_mapreduce_spark.plans.catalog_llm import mmr_rerank_embeddings

    rows = mmr_rerank_embeddings(spark, sf_small).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert sorted(by_q) == [0, 1, 2]
    for qid, rs in by_q.items():
        assert sorted(r["rnk"] for r in rs) == [1, 2, 3, 4, 5]
        ids = [r["neighbor_id"] for r in rs]
        assert len(set(ids)) == 5 and qid not in ids
        scores = {r["rnk"]: r["mmr_score10"] for r in rs}
        assert scores[1] == max(scores.values())


def test_credit_ledger_matches_python_replay(spark, sf_small):
    """Clamped fold ≡ pure-Python replay; balances never below zero."""
    from uw_mapreduce_spark.plans.catalog import credit_ledger_events

    rows = credit_ledger_events(spark, sf_small).collect()
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for seq in by_user.values():
        seq.sort(key=lambda r: r["ts_us"])
        b = 0
        for r in seq:
            b = max(0, b + r["delta_u"])
            assert r["balance_u"] == b
            assert b >= 0


def test_markov_attribution_invariants(spark, sf_small):
    """Removal effects in [0, 1000] (pinning a state can only reduce a
    monotone value iteration), all four channels present, shares sum
    to ≈1000 (floor rounding)."""
    from uw_mapreduce_spark.plans.catalog import markov_attribution_events

    rows = markov_attribution_events(spark, sf_small).collect()
    assert sorted(r["channel"] for r in rows) == [
        "click", "error", "signup", "view",
    ]
    for r in rows:
        assert 0 <= r["removal_effect_permille"] <= 1000
        assert 0 <= r["attribution_permille"] <= 1000
    share = sum(r["attribution_permille"] for r in rows)
    assert 996 <= share <= 1000
