"""Round-10 artifact-cache hardening: builder-version key salt (a
kernel change invalidates stale artifacts), atomic temp-then-rename
commits (concurrent writers can't interleave), family GC (the cache is
bounded per corpus-snapshot family), and the max_df key encoding."""

from __future__ import annotations

import os

import pyspark.sql.functions as F


def _graph(sim, emb, cache, k=3):
    return sorted(map(tuple, sim.knn_graph_artifact(emb, k=k, cache_dir=cache).collect()))


def test_builder_version_change_invalidates_cache(spark, sf_small, tmp_path, monkeypatch):
    """A builder-code change must MISS the cache even on identical
    corpus content — pre-r10 the key was content+params only, so after
    any kernel change the oracle sweep and bench cache-HIT and
    validated the stale pre-change output."""
    from uw_mapreduce_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet").orderBy("vec_id").limit(64)
    cache = str(tmp_path / "c")
    _graph(sim, emb, cache)
    assert len(os.listdir(cache)) == 1

    real_version = sim._builder_version
    monkeypatch.setattr(
        sim, "_builder_version", lambda *fns: "deadbeef"
    )  # simulate a kernel edit (source hash changes)
    _graph(sim, emb, cache)
    assert len(os.listdir(cache)) == 2, "changed builder version must rebuild"
    monkeypatch.setattr(sim, "_builder_version", real_version)
    _graph(sim, emb, cache)
    assert len(os.listdir(cache)) == 2, "original version must cache-hit again"


def test_builder_version_covers_the_border_helpers(spark, sf_small, tmp_path, monkeypatch):
    """Both BLAS artifacts salt their key with the source of the helpers
    that compute their block borders, not only the entry points that
    call them: an edit to `scale._borders_histogram` must rebuild."""
    import inspect

    from uw_mapreduce_spark.operators import similarity as sim

    hashed = []
    real_version = sim._builder_version

    def recording(*fns):
        hashed.append(fns)
        return real_version(*fns)

    monkeypatch.setattr(sim, "_builder_version", recording)
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet").orderBy("vec_id").limit(64)
    cache = str(tmp_path / "c")
    sim.knn_graph_artifact(emb, k=3, cache_dir=cache).count()
    sim.near_dup_pairs_artifact(emb, cache_dir=cache).count()
    assert len(hashed) == 2
    for fns in hashed:
        assert "def _borders_histogram" in "".join(inspect.getsource(f) for f in fns)


def test_family_gc_keeps_newest_n(spark, sf_small, tmp_path, monkeypatch):
    """The (N+1)-th corpus snapshot in a family evicts the oldest
    committed artifact (VERDICT r9 item 5) — fingerprint-keyed entries
    must not accumulate forever across snapshots."""
    import time

    from uw_mapreduce_spark.operators import similarity as sim

    monkeypatch.setattr(sim, "_ARTIFACT_GC_KEEP", 2)
    base = spark.read.parquet(f"{sf_small}/embeddings.parquet").orderBy("vec_id").limit(48)
    cache = str(tmp_path / "c")
    for shift in (0.0, 1.0, 2.0):  # three distinct corpus snapshots
        snap = base.withColumn(
            "embedding",
            F.transform(
                F.col("embedding"),
                lambda x, i: F.when(i == 0, x + F.lit(shift)).otherwise(x).cast("float"),
            ),
        )
        _graph(sim, snap, cache)
        time.sleep(1.1)  # local-fs mtime granularity: order the snapshots

    entries = sorted(os.listdir(cache))
    assert len(entries) == 2, entries  # oldest of the 3 evicted
    # every survivor is committed and probe-able
    for e in entries:
        assert os.path.exists(os.path.join(cache, e, "_SUCCESS")), e
    # GC is family-scoped: a different-k family is untouched
    _graph(sim, base, cache, k=4)
    names = os.listdir(cache)
    assert sum(1 for n in names if n.startswith("k3_")) == 2
    assert sum(1 for n in names if n.startswith("k4_")) == 1


def test_gc_sweeps_stale_tmp_dirs_only(spark, sf_small, tmp_path, monkeypatch):
    """Abandoned .tmp- dirs past the TTL are deleted; fresh ones (a
    live concurrent build) survive."""
    from uw_mapreduce_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet").orderBy("vec_id").limit(48)
    cache = str(tmp_path / "c")
    _graph(sim, emb, cache)
    (key,) = os.listdir(cache)

    fresh = os.path.join(cache, "k3_vdead_n1_h1.tmp-aaaabbbbcccc")
    stale = os.path.join(cache, "k3_vdead_n2_h2.tmp-ddddeeeeffff")
    os.makedirs(fresh)
    os.makedirs(stale)
    old = __import__("time").time() - 7 * 3600
    os.utime(stale, (old, old))

    sim._gc_artifact_family(spark, cache, "k3_", keep=4)
    left = set(os.listdir(cache))
    assert os.path.basename(stale) not in left
    assert os.path.basename(fresh) in left
    assert key in left


def test_commit_artifact_loser_yields_to_committed_winner(spark, sf_small, tmp_path):
    """If the keyed path is already committed by another writer,
    _commit_artifact must DISCARD its own build (no overwrite, no
    nested stray dir) — the committed artifact is served unchanged."""
    from uw_mapreduce_spark.operators import similarity as sim

    cache = str(tmp_path / "c")
    os.makedirs(cache)
    path = os.path.join(cache, "k3_vx_n1_h1")

    winner = spark.range(3).select(F.col("id").alias("v"))
    winner.write.parquet(path)  # the concurrent winner's committed artifact
    before = sorted(r["v"] for r in spark.read.parquet(path).collect())

    loser = spark.range(100, 105).select(F.col("id").alias("v"))
    sim._commit_artifact(loser, path)

    after = sorted(r["v"] for r in spark.read.parquet(path).collect())
    assert after == before, "committed artifact must not be clobbered"
    # no stray temp dirs left beside or inside the artifact
    assert all(".tmp-" not in n for n in os.listdir(cache))
    assert all(".tmp-" not in n for n in os.listdir(path))


def test_jaccard_artifact_max_df_none_and_zero_are_distinct_keys(
    spark, sf_small, tmp_path
):
    """max_df=None (no cap) and max_df=0 (drop every shingle) must not
    collide on one artifact — the pre-r10 `max_df or 0` encoding served
    whichever was built first for both parameterizations."""
    from uw_mapreduce_spark.operators.dedup import jaccard_pairs_artifact

    docs = spark.read.parquet(f"{sf_small}/documents.parquet").orderBy("doc_id").limit(60)
    cache = str(tmp_path / "c")
    uncapped = jaccard_pairs_artifact(docs, max_df=None, cache_dir=cache).count()
    capped_zero = jaccard_pairs_artifact(docs, max_df=0, cache_dir=cache).count()
    assert len(os.listdir(cache)) == 2, "None and 0 must key separately"
    assert capped_zero == 0  # max_df=0 drops every shingle: no candidate pairs
    assert uncapped > 0
