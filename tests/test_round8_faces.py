"""Round-8 evidence faces: pytest pins beside their driver oracles
(salted-join is pinned in test_plan_guards.py)."""

from __future__ import annotations

import os

import pytest

from uw_mapreduce_spark.plans.catalog import _REFERENCE_DIR, QUERIES

SIMPLE103 = f"{_REFERENCE_DIR}/input/simple103.txt"


@pytest.mark.skipif(not os.path.exists(SIMPLE103), reason=f"reference file absent: {SIMPLE103}")
def test_kvtext_roundtrip_audit_verdict(spark, sf_small):
    """The O2 write-half face must report a TRUE multiset round-trip
    and aggregates equal to the reference file's own rows."""
    rows = QUERIES["kvtext_roundtrip_audit"](spark, sf_small).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["roundtrip_ok"] is True
    with open("/root/reference/input/simple103.txt") as f:
        kv = [tuple(int(x) for x in line.rstrip("\n").split("\t"))
              for line in f if line.strip()]
    assert r["n_rows"] == len(kv)
    assert r["key_sum"] == sum(k for k, _ in kv)
    assert r["value_sum"] == sum(v for _, v in kv)


def test_ann_index_persistence_audit_verdict(spark, sf_small):
    """Probing through the persisted centroid index must be
    bit-identical to the in-memory build, with every query's top-5
    filled."""
    rows = QUERIES["ann_index_persistence_audit"](spark, sf_small).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["persisted_identical"] is True
    assert r["n_results"] == 5 * r["n_queries"]


def test_dedup_provenance_rows_are_exactly_the_drops(spark, sf_small):
    """Provenance rows must be exactly the dropped ids of each
    manifest, each pointing at its cluster's kept representative."""
    prov = QUERIES["dedup_provenance_documents"](spark, sf_small).collect()
    lex = {r["doc_id"]: r for r in
           QUERIES["dedup_manifest_documents"](spark, sf_small).collect()}
    sem = {r["vec_id"]: r for r in
           QUERIES["semantic_dedup_manifest"](spark, sf_small).collect()}
    lex_drops = {(d, r["canonical_id"]) for d, r in lex.items() if not r["keep"]}
    sem_drops = {(d, r["canonical_id"]) for d, r in sem.items() if not r["keep"]}
    got_lex = {(r["doc_id"], r["kept_id"]) for r in prov if r["modality"] == "lexical"}
    got_sem = {(r["doc_id"], r["kept_id"]) for r in prov if r["modality"] == "semantic"}
    assert got_lex == lex_drops
    assert got_sem == sem_drops
    # every kept_id is actually kept by its own manifest
    for r in prov:
        mani = lex if r["modality"] == "lexical" else sem
        assert mani[r["kept_id"]]["keep"] is True


def test_knn_self_blas_multi_block_equals_single_block_at_scale(spark):
    """The 100 TB path is the multi-block block-pair topology
    (deterministic borders, row replication into B block-pairs,
    strip-wise matmuls); it must produce byte-identical (query,
    neighbor, rank) output to the single-block broadcast path on a
    corpus large enough that borders, the x4-overshoot retry check,
    and cross-block boundary candidates all engage."""
    import numpy as np

    from uw_mapreduce_spark.operators.similarity import knn_self_blas

    rng = np.random.default_rng(11)
    n = 6000
    # clustered corpus: boundary ties and cross-block neighbors abound
    centers = rng.standard_normal((40, 6))
    vecs = centers[rng.integers(0, 40, n)] + 0.05 * rng.standard_normal((n, 6))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    single = {tuple(r) for r in knn_self_blas(emb, k=3).collect()}
    multi = {
        tuple(r)
        for r in knn_self_blas(emb, k=3, block_rows=1024).collect()
    }
    assert multi == single


def test_shapley_matches_pure_python_and_efficiency(spark, sf_small):
    """The Shapley face must equal a from-scratch Python computation
    of the coalition game on the same events, and satisfy the
    efficiency axiom bit-for-bit: Σφ·24 = 24·v(all channels)."""
    from uw_mapreduce_spark.sources.tables import load_table

    out = {
        r["channel"]: r["phi_24ths"]
        for r in QUERIES["shapley_attribution_events"](spark, sf_small).collect()
    }
    ev = load_table(spark, sf_small, "events").select(
        "user_id", "event_type"
    ).collect()
    users: dict = {}
    for r in ev:
        users.setdefault(r["user_id"], set()).add(r["event_type"])
    ch = ["click", "error", "signup", "view"]
    conv_masks = [
        m
        for s in users.values()
        if "purchase" in s
        for m in [sum(1 << i for i, c in enumerate(ch) if c in s)]
        if m
    ]

    def v(coal):
        return sum(1 for m in conv_masks if m & coal == m)

    w = {0: 6, 1: 2, 2: 2, 3: 6}
    want = {
        c: sum(
            w[bin(s).count("1")] * (v(s | (1 << i)) - v(s))
            for s in range(16)
            if not s & (1 << i)
        )
        for i, c in enumerate(ch)
    }
    assert out == want
    assert sum(out.values()) == 24 * v(15)


def test_knn_self_blas_excludes_self_on_tiny_corpus(spark):
    """With n <= k + tie_slack the whole corpus is one take==m block
    and the -inf self-masked entry reaches the candidate stream; it
    must never surface as a neighbor (the 'self excluded' contract)."""
    from uw_mapreduce_spark.operators.similarity import knn_self_blas

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    rows = knn_self_blas(emb, k=5).collect()
    assert all(r["query_id"] != r["neighbor_id"] for r in rows)
    assert len(rows) == 6  # 3 queries x 2 real neighbors, no self rows
