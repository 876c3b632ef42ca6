"""Round-9 additions: the build-once kNN-graph artifact and its
persistence audit, and the cardinality-routed Pareto frontier."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest


def test_knn_graph_artifact_builds_once_then_probes(spark, sf_small, tmp_path, monkeypatch):
    """Cache-miss builds (and persists) the graph; a second call with
    the SAME corpus must serve the identical edge list from parquet
    WITHOUT re-running the quadratic knn_self_blas build — the
    build-once/probe-many contract label_propagation relies on."""
    from uw_mapreduce_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    cache = str(tmp_path / "knncache")

    calls = {"n": 0}
    real_build = sim.knn_self_blas

    def counting_build(*args, **kwargs):
        calls["n"] += 1
        return real_build(*args, **kwargs)

    monkeypatch.setattr(sim, "knn_self_blas", counting_build)
    first = sorted(map(tuple, sim.knn_graph_artifact(emb, k=5, cache_dir=cache).collect()))
    assert calls["n"] == 1
    second = sorted(map(tuple, sim.knn_graph_artifact(emb, k=5, cache_dir=cache).collect()))
    assert calls["n"] == 1, "cache hit must not re-run the BLAS build"
    assert first == second
    # the artifact is the exact build output
    direct = sorted(map(tuple, real_build(emb, k=5).collect()))
    assert first == direct


def test_knn_graph_artifact_fingerprint_invalidates_on_content_change(
    spark, sf_small, tmp_path
):
    """A corpus whose ids or vector values change must MISS the cache
    (the bench's sf1 per-copy embedding perturbation relies on this) —
    keying by path alone would silently serve a stale graph."""
    from uw_mapreduce_spark.operators import similarity as sim

    # orderBy before limit: the artifact functions' deterministic-input
    # contract — an unordered limit can change rows between the
    # fingerprint job and the build job.
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet").orderBy("vec_id").limit(64)
    cache = str(tmp_path / "knncache")
    g1 = sorted(map(tuple, sim.knn_graph_artifact(emb, k=3, cache_dir=cache).collect()))
    shifted = emb.withColumn(
        "embedding",
        F.transform(
            F.col("embedding"),
            lambda x, i: F.when(i == 0, x + F.lit(0.5)).otherwise(x).cast("float"),
        ),
    )
    g2 = sorted(map(tuple, sim.knn_graph_artifact(shifted, k=3, cache_dir=cache).collect()))
    assert g1 != g2, "perturbed corpus must rebuild, not reuse"
    import os

    assert len(os.listdir(cache)) == 2, "one artifact per fingerprint"


def test_label_propagation_reuses_graph_within_session(
    spark, sf_small, tmp_path, monkeypatch
):
    """The face itself goes through the artifact: a second invocation
    in the same session (bench rep 2, after clearCache) probes the
    persisted graph instead of rebuilding."""
    from uw_mapreduce_spark.operators import similarity as sim
    from uw_mapreduce_spark.plans.catalog import QUERIES

    monkeypatch.setenv("SPARK_GRAFT_KNN_CACHE", str(tmp_path / "knncache"))
    calls = {"n": 0}
    real_build = sim.knn_self_blas

    def counting_build(*args, **kwargs):
        calls["n"] += 1
        return real_build(*args, **kwargs)

    monkeypatch.setattr(sim, "knn_self_blas", counting_build)
    fn = QUERIES["label_propagation_embeddings"]
    r1 = sorted(map(tuple, fn(spark, sf_small).collect()))
    spark.catalog.clearCache()
    r2 = sorted(map(tuple, fn(spark, sf_small).collect()))
    assert calls["n"] == 1, "second run must probe the artifact"
    assert r1 == r2


def test_knn_graph_persistence_audit_face(spark, sf_small):
    from uw_mapreduce_spark.plans.catalog import QUERIES

    row = QUERIES["knn_graph_persistence_audit"](spark, sf_small).collect()[0]
    assert row["persisted_identical"] is True
    assert row["n_edges"] == 5 * row["n_vectors"]


def test_streaming_ivm_face_equals_batch_aggregate(spark, sf_small):
    """The driver face itself (not just the maintainer): drained
    4-batch snapshot == one-shot aggregate, n_batches pinned."""
    import pyspark.sql.functions as F

    from uw_mapreduce_spark.plans.catalog import QUERIES
    from uw_mapreduce_spark.sources.tables import load_table

    got = QUERIES["streaming_ivm_rollup_events"](spark, sf_small)
    rows = got.collect()
    assert rows and all(r["n_batches"] == 4 for r in rows)
    expected = {
        tuple(r)
        for r in load_table(spark, sf_small, "events")
        .groupBy(F.col("user_id").cast("long").alias("user_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.floor(F.col("value") * 1000).cast("long")).cast("long").alias("sum_v"),
        )
        .collect()
    }
    assert {(r["user_id"], r["n"], r["sum_v"]) for r in rows} == expected


def test_rotation_defers_new_registrations_behind_backlog():
    """Round-9 registrations must not steal the driver's 50
    verification slots from the never-verified backlog: every
    _DEFER_FIRST_SLOT member sorts after every other priority-0
    query (VERDICT r8 item 1)."""
    import __spark_entry__ as e

    names = e._rotated_names()
    last, last_hash = e._last_verified_round()
    from uw_mapreduce_spark.plans.catalog import ORACLE

    def prio(n):
        if n in ORACLE and last_hash.get(n, 0) == 0:
            return 0
        return last.get(n, 0)

    backlog = [n for n in names if prio(n) == 0 and n not in e._DEFER_FIRST_SLOT]
    deferred = [n for n in names if n in e._DEFER_FIRST_SLOT]
    assert deferred, "round-9 additions should be registered"
    if not backlog:
        # Terminal state reached in round 10: every oracle-backed face
        # has hash-verified at least once, so there is no never-verified
        # backlog left to defer behind — the invariant is vacuously true.
        return
    last_backlog_idx = max(names.index(n) for n in backlog)
    assert all(names.index(d) > last_backlog_idx for d in deferred)


def test_near_dup_pairs_artifact_builds_once_and_matches_direct(
    spark, sf_small, tmp_path, monkeypatch
):
    """The shared near-dup pair artifact: identical to the direct
    blocked-BLAS build, built exactly once per (corpus, threshold),
    and threshold-keyed (0.45 and 0.6 artifacts coexist)."""
    from uw_mapreduce_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    cache = str(tmp_path / "ndpcache")
    calls = {"n": 0}
    real = sim.cosine_near_dup_pairs_numpy

    def counting(*args, **kwargs):
        calls["n"] += 1
        return real(*args, **kwargs)

    monkeypatch.setattr(sim, "cosine_near_dup_pairs_numpy", counting)
    a1 = sorted(map(tuple, sim.near_dup_pairs_artifact(emb, 0.45, cache_dir=cache).collect()))
    a2 = sorted(map(tuple, sim.near_dup_pairs_artifact(emb, 0.45, cache_dir=cache).collect()))
    assert calls["n"] == 1 and a1 == a2
    direct = sorted(map(tuple, real(emb, threshold=0.45).collect()))
    assert a1 == direct
    b = sorted(map(tuple, sim.near_dup_pairs_artifact(emb, 0.6, cache_dir=cache).collect()))
    assert calls["n"] == 2, "different threshold = different artifact"
    assert set(b) <= set(a1), "higher threshold pairs are a subset"


def test_jaccard_pairs_artifact_builds_once_and_text_edits_invalidate(
    spark, sf_small, tmp_path, monkeypatch
):
    """The lexical pair artifact: identical to the direct inverted-index
    build, built once per (corpus, n, threshold, max_df), and the
    content fingerprint hashes TEXT (a same-length edit that keeps ids
    and counts must still rebuild)."""
    import pyspark.sql.functions as F

    from uw_mapreduce_spark.operators import dedup as dd

    docs = spark.read.parquet(f"{sf_small}/documents.parquet").limit(120)
    cache = str(tmp_path / "njpcache")
    calls = {"n": 0}
    real = dd.ngram_jaccard_pairs

    def counting(*args, **kwargs):
        calls["n"] += 1
        return real(*args, **kwargs)

    monkeypatch.setattr(dd, "ngram_jaccard_pairs", counting)
    a1 = sorted(map(tuple, dd.jaccard_pairs_artifact(
        docs, "text", "doc_id", n=5, threshold=0.8, max_df=64, cache_dir=cache
    ).collect()))
    a2 = sorted(map(tuple, dd.jaccard_pairs_artifact(
        docs, "text", "doc_id", n=5, threshold=0.8, max_df=64, cache_dir=cache
    ).collect()))
    assert calls["n"] == 1 and a1 == a2
    direct = sorted(map(tuple, real(
        docs, "text", "doc_id", n=5, threshold=0.8, max_df=64
    ).collect()))
    assert a1 == direct
    # Same ids, same row count, same text LENGTH — only content differs.
    edited = docs.withColumn(
        "text", F.concat(F.substring("text", 2, 2**30), F.substring("text", 1, 1))
    )
    dd.jaccard_pairs_artifact(
        edited, "text", "doc_id", n=5, threshold=0.8, max_df=64, cache_dir=cache
    ).count()
    assert calls["n"] == 2, "text edit must miss the cache"


def test_prefix_max_scalable_exclusive_matches_model(spark):
    """inclusive=False (the skyline dominance test): each row gets the
    max over STRICTLY-preceding rows (NULL for the global first row),
    correct across partition boundaries and carry-in composition —
    checked against a pure-Python model on adversarial layouts
    (descending, all-equal, single row, negative values)."""
    from uw_mapreduce_spark.operators.scale import prefix_scalable

    cases = [
        [5],
        [3, 3, 3, 3],
        [9, 8, 7, 6, 5, 4],
        [1, 5, 2, 8, 3, 8, -4, 10, 10, 0],
        [-(10**6), 0, -5, 10**6, -1],
        list(range(40)),
    ]
    for vals in cases:
        rows = [(i, v) for i, v in enumerate(vals)]
        df = spark.createDataFrame(rows, "i long, v long").repartition(5)
        got = {
            r["i"]: r["pm"]
            for r in prefix_scalable(
                df, ["i"], "v", agg="max", out_col="pm", num_partitions=4, inclusive=False
            ).collect()
        }
        acc, want = None, {}
        for i, v in rows:
            want[i] = acc
            acc = v if acc is None or v > acc else acc
        assert got == want, vals
