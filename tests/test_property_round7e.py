"""Round-7 session-5 properties: grid-DBSCAN vs a brute-force
reference model, and bounded-hop Bellman-Ford vs per-path enumeration."""

from __future__ import annotations

import itertools

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

_SETTINGS = dict(
    deadline=None,
    max_examples=8,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _brute_dbscan(pts, eps, min_pts):
    """Reference DBSCAN with min-label clusters and smallest-core-label
    border assignment — mirrors the operator's deterministic contract."""
    ids = sorted(pts)
    e2 = eps * eps
    nbr = {
        i: [j for j in ids if j != i
            and (pts[i][0] - pts[j][0]) ** 2 + (pts[i][1] - pts[j][1]) ** 2 <= e2]
        for i in ids
    }
    core = {i for i in ids if len(nbr[i]) >= min_pts - 1}
    # min-label CC over core-core adjacency
    label = {i: i for i in core}
    changed = True
    while changed:
        changed = False
        for i in core:
            for j in nbr[i]:
                if j in core and label[j] < label[i]:
                    label[i] = label[j]
                    changed = True
    # chase to fixpoint (tiny graphs: propagate until stable)
    for _ in range(len(core)):
        for i in core:
            if label[label[i]] < label[i]:
                label[i] = label[label[i]]
    out = {}
    for i in ids:
        if i in core:
            out[i] = ("core", label[i])
        else:
            cl = [label[j] for j in nbr[i] if j in core]
            out[i] = ("border", min(cl)) if cl else ("noise", -1)
    return out


@settings(**_SETTINGS)
@given(
    coords=st.lists(
        st.tuples(st.integers(min_value=-30, max_value=30),
                  st.integers(min_value=-30, max_value=30)),
        min_size=1, max_size=28,
    ),
    eps=st.integers(min_value=1, max_value=15),
    min_pts=st.integers(min_value=2, max_value=5),
)
def test_dbscan_grid_matches_brute_force(spark, coords, eps, min_pts):
    from uw_mapreduce_spark.operators.clustering import dbscan_grid

    pts = {i: c for i, c in enumerate(coords)}
    want = _brute_dbscan(pts, eps, min_pts)
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in pts.items()], "id long, x long, y long"
    )
    got = {
        r["id"]: (r["role"], r["cluster"])
        for r in dbscan_grid(df, eps=eps, min_pts=min_pts).collect()
    }
    assert got == want


def test_dbscan_grid_partitioning_invariance(spark):
    """Same clusters whether the points arrive in 1 partition or 7."""
    from uw_mapreduce_spark.operators.clustering import dbscan_grid

    rows = [(i, (i * 37) % 50 - 25, (i * 61) % 44 - 22) for i in range(60)]
    outs = []
    for parts in (1, 7):
        df = spark.createDataFrame(rows, "id long, x long, y long").repartition(parts)
        outs.append(sorted(
            tuple(r) for r in dbscan_grid(df, eps=6, min_pts=3).collect()
        ))
    assert outs[0] == outs[1]


def _brute_cheapest(edges, seeds, max_hops):
    """min over all ≤max_hops-edge paths from any seed (undirected)."""
    adj = {}
    for u, v, w in edges:
        adj.setdefault(u, []).append((v, w))
        adj.setdefault(v, []).append((u, w))
    dist = {s: 0 for s in seeds}
    for _ in range(max_hops):
        nxt = dict(dist)
        for u, d in dist.items():
            for v, w in adj.get(u, []):
                if d + w < nxt.get(v, float("inf")):
                    nxt[v] = d + w
        dist = nxt
    return dist


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9), st.integers(1, 20)),
        min_size=1, max_size=25,
    ),
    hops=st.integers(min_value=1, max_value=4),
)
def test_weighted_shortest_paths_matches_path_enumeration(spark, edges, hops):
    from uw_mapreduce_spark.operators.graph import weighted_shortest_paths

    edges = [(u, v, w) for u, v, w in edges if u != v]
    if not edges:
        return
    seeds = sorted({u for u, _, _ in edges})[:2]
    want = _brute_cheapest(edges, seeds, hops)
    e = spark.createDataFrame(edges, "src long, dst long, w long")
    s = spark.createDataFrame([(x,) for x in seeds], "v long")
    got = {r["v"]: r["d"] for r in weighted_shortest_paths(e, s, max_hops=hops).collect()}
    assert got == want


def _brute_holt(vals, a=4, b=8):
    def tdiv(x, d):
        return x // d if x >= 0 else -((-x) // d)

    out = []
    lv = tr = None
    for v in vals:
        if lv is None:
            lv, tr = v, 0
        else:
            astep = tdiv(v - (lv + tr), a)
            lv = lv + tr + astep
            tr = tr + tdiv(astep, b)
        out.append((lv, tr))
    return out


@settings(**_SETTINGS)
@given(
    series=st.lists(
        st.tuples(st.integers(0, 2), st.lists(
            st.integers(min_value=-10**9, max_value=10**9), min_size=1, max_size=30)),
        min_size=1, max_size=3, unique_by=lambda kv: kv[0],
    ),
)
def test_holt_keyed_matches_python_model(spark, series):
    from uw_mapreduce_spark.operators.resample import holt_keyed

    rows = [(k, i, v) for k, vals in series for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k long, t long, v long").repartition(5)
    got = {
        (r["k"], r["t"]): (r["level"], r["trend"])
        for r in holt_keyed(df, ["k"], "t", "v").collect()
    }
    want = {
        (k, i): lt
        for k, vals in series
        for i, lt in enumerate(_brute_holt(vals))
    }
    assert got == want


_INF = float("inf")


def _spark_order(x):
    """Sort key for Spark's ascending order: NULL first, NaN last."""
    if x is None:
        return (0, 0.0)
    return (2, 0.0) if x != x else (1, x)


def _comparable(x):
    return "NaN" if isinstance(x, float) and x != x else x


_PM_VALUES = st.none() | st.integers(min_value=-10**6, max_value=10**6)


@settings(**_SETTINGS)
@given(
    rows=st.one_of(
        # unique ascending keys, spread over several ranges
        st.lists(_PM_VALUES, min_size=1, max_size=60).map(
            lambda vals: [(float(i), v) for i, v in enumerate(vals)]
        ),
        # few distinct keys, NULL, NaN and ±inf among keys and values
        st.lists(
            st.tuples(
                st.none() | st.sampled_from([float("nan"), _INF, -_INF]) | st.integers(-5, 5).map(float),
                st.none() | st.sampled_from([float("nan"), _INF, -_INF]) | st.integers(-9, 9).map(float),
            ),
            min_size=1, max_size=60,
        ),
    ),
)
# all-equal keys: one range, no borders
@example(rows=[(3.0, v) for v in (5, -2, 9, None, 9, 1, 12)])
# NULL, NaN and ±inf keys; a NaN value is above every other value
@example(rows=[(None, 4.0), (float("nan"), 7.0), (_INF, 1.0), (-_INF, None), (0.0, 2.0),
               (1.0, float("nan")), (None, None), (float("nan"), 3.0), (2.0, -1.0)])
# more partitions than distinct keys
@example(rows=[(float(i % 2), i) for i in range(7)])
# empty input
@example(rows=[])
def test_prefix_max_scalable_matches_running_max(spark, rows):
    """Inclusive and exclusive running max in (k, i) order, with ties on
    k broken by the row index i; NULL values are skipped.  The running
    sum of the same input is checked against the same walk."""
    from uw_mapreduce_spark.operators.scale import prefix_scalable

    data = [(k, i, v) for i, (k, v) in enumerate(rows)]
    vtype = "double" if any(isinstance(v, float) for _, v in rows) else "long"
    df = spark.createDataFrame(data, f"k double, i long, v {vtype}").repartition(6)

    def prefixes(agg):
        return {
            r["i"]: (r["incl"], r["excl"])
            for r in prefix_scalable(df, ["k", "i"], "v", agg=agg, out_col="incl", num_partitions=4)
            .join(prefix_scalable(df, ["k", "i"], "v", agg=agg, out_col="excl", num_partitions=4,
                                  inclusive=False).select("i", "excl"), "i")
            .collect()
        }

    got, got_sum = prefixes("max"), prefixes("sum")
    acc, want = None, {}
    total, want_sum = 0, {}
    for k, i, v in sorted(data, key=lambda t: (_spark_order(t[0]), t[1])):
        before, total_before = acc, total
        if v is not None and (acc is None or _spark_order(v) > _spark_order(acc)):
            acc = v
        if v is not None:
            total += v
        want[i] = (acc, before)
        want_sum[i] = (total, total_before)
    assert {i: tuple(map(_comparable, p)) for i, p in got.items()} == {
        i: tuple(map(_comparable, p)) for i, p in want.items()
    }
    assert {i: tuple(map(_comparable, p)) for i, p in got_sum.items()} == {
        i: tuple(map(_comparable, p)) for i, p in want_sum.items()
    }


def test_priority_sample_exact_k_and_estimator(spark):
    """Returns exactly k rows; estimator = max(w, floor(tau)); result
    equals a brute-force priority ranking with the same md5 uniforms."""
    import hashlib

    from uw_mapreduce_spark.operators.sampling import priority_sample

    rows = [(i, 100 + (i * 37) % 900) for i in range(1, 301)]
    df = spark.createDataFrame(rows, "id long, w long")
    k = 50
    got = sorted(
        (r["id"], r["w"], r["est"]) for r in priority_sample(df, "w", k, "id").collect()
    )
    assert len(got) == k

    def pri(i, w):
        u32 = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
        return float(w) * 4294967296.0 / float(u32 + 1)

    ranked = sorted(rows, key=lambda t: (-pri(*t), t[0]))
    tau = pri(*ranked[k]) if len(ranked) > k else 0.0
    import math

    want = sorted((i, w, max(w, math.floor(tau))) for i, w in ranked[:k])
    assert got == want


def test_knn_self_blas_matches_bruteforce_both_paths(spark, sf_small):
    """The blocked-BLAS self-kNN is rank-identical to the interpreted
    per-pair anchor, on the single-block fast path AND the multi-block
    block-pair path (including exact-tie handling via tie_slack)."""
    from uw_mapreduce_spark.operators.similarity import knn_bruteforce, knn_self_blas
    from uw_mapreduce_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings")
    want = {tuple(r) for r in knn_bruteforce(emb, emb, k=5).collect()}
    got_single = {tuple(r) for r in knn_self_blas(emb, k=5).collect()}
    got_multi = {tuple(r) for r in knn_self_blas(emb, k=5, block_rows=64).collect()}
    assert got_single == want
    assert got_multi == want


def _pava_antitonic_floor(ns, cs):
    """Pool-adjacent-violators on exact rationals (non-increasing fit),
    then floor each block average to permille."""
    stack = []
    for n, c in zip(ns, cs):
        stack.append([n, c, 1])
        while len(stack) > 1 and stack[-2][1] * stack[-1][0] < stack[-1][1] * stack[-2][0]:
            n2, c2, k2 = stack.pop()
            stack[-1][0] += n2
            stack[-1][1] += c2
            stack[-1][2] += k2
    out = []
    for n, c, k in stack:
        out += [c * 1000 // n] * k
    return out


def _minimax_floor(ns, cs):
    """fitted(i) = min_{j<=i} max_{k>=j} floor-permille pooled(j..k) —
    the formulation the isotonic face computes in SQL."""
    m = len(ns)
    pn, pc = [0], [0]
    for n, c in zip(ns, cs):
        pn.append(pn[-1] + n)
        pc.append(pc[-1] + c)

    def pooled(j, k):
        return (pc[k] - pc[j - 1]) * 1000 // (pn[k] - pn[j - 1])

    return [
        min(max(pooled(j, k) for k in range(j, m + 1)) for j in range(1, i + 1))
        for i in range(1, m + 1)
    ]


@settings(**_SETTINGS)
@given(
    bins=st.lists(
        st.tuples(st.integers(1, 50), st.integers(0, 50)).map(
            lambda t: (t[0], min(t[1], t[0]))
        ),
        min_size=1, max_size=10,
    ),
)
def test_isotonic_minimax_equals_rational_pava(bins):
    """The PAVA minimax identity survives the floor-permille grid:
    flooring each pooled average commutes with the min/max (floor is
    monotone), so the SQL-computable minimax equals exact-rational
    PAVA then floor — the claim `isotonic_calibration_embeddings`
    rests on."""
    ns = [n for n, _ in bins]
    cs = [c for _, c in bins]
    assert _minimax_floor(ns, cs) == _pava_antitonic_floor(ns, cs)
