"""Unit tests for the reference-parity operators (SURVEY.md §2.1)."""

from __future__ import annotations

from conftest import shuffle_partitions
from pyspark.sql import functions as F

from uw_mapreduce_spark.operators.partitioning import rebalance_by_rank, total_sort
from uw_mapreduce_spark.operators.rank import global_rank
from uw_mapreduce_spark.operators.sampling import bernoulli_sample, equi_depth_borders
from uw_mapreduce_spark.operators.scale import global_rank_scalable


def kv(spark, rows):
    return spark.createDataFrame(rows, "key long, value long")


def test_equi_depth_borders_dense(spark):
    # keys 1..100, P=4 -> borders at 1-based positions 25, 50, 75
    df = kv(spark, [(i, i) for i in range(1, 101)])
    got = {(r.border_idx, r.border) for r in equi_depth_borders(df, "key", 4).collect()}
    assert got == {(1, 25), (2, 50), (3, 75)}


def test_equi_depth_borders_fewer_rows_than_partitions(spark):
    # F4: n < P must not crash (the reference's chooseBorders does).
    df = kv(spark, [(1, 1), (2, 2), (3, 3)])
    rows = equi_depth_borders(df, "key", 4).collect()
    assert len(rows) == 3  # degenerate but defined: clamped to position >= 1


def test_global_rank_paths_agree(spark):
    df = kv(spark, [(i * 7 % 50, i) for i in range(200)])
    a = {(r.key, r.value, r["rank"]) for r in global_rank(df, ["key", "value"]).collect()}
    with shuffle_partitions(spark, 4):
        scalable = global_rank_scalable(df, ["key", "value"])
    b = {(r.key, r.value, r["rank"]) for r in scalable.collect()}
    assert a == b
    ranks = sorted(r[2] for r in a)
    assert ranks == list(range(200))


def test_prefix_scalable_rejects_other_aggs(spark):
    """Only sum and max have a carry-in; any other agg is refused before
    a job runs, as sliding_aggregate_scalable refuses unknown aggs."""
    import pytest

    from uw_mapreduce_spark.operators.scale import prefix_scalable

    for agg in ("min", "avg", "count"):
        with pytest.raises(ValueError):
            prefix_scalable(kv(spark, [(1, 1)]), ["key"], "value", agg=agg)


def test_total_sort_is_sorted_and_complete(spark):
    df = kv(spark, [(i * 13 % 97, i) for i in range(97)])
    got = [r.key for r in total_sort(df, ["key", "value"]).collect()]
    assert got == sorted(got) and len(got) == 97


def test_rebalance_preserves_content(spark):
    df = kv(spark, [(i, i) for i in range(100)]).withColumnRenamed("key", "rank")
    out = rebalance_by_rank(df, "rank", 5)
    assert {(r["rank"], r.value) for r in out.collect()} == {(i, i) for i in range(100)}
    assert out.rdd.getNumPartitions() == 5


def test_bernoulli_sample_deterministic_with_seed(spark):
    df = kv(spark, [(i, i) for i in range(1000)])
    a = sorted(r.key for r in bernoulli_sample(df, 0.1, seed=7).collect())
    b = sorted(r.key for r in bernoulli_sample(df, 0.1, seed=7).collect())
    assert a == b
    assert 40 < len(a) < 200  # ~100 expected


def test_sliding_minmax_scalable_matches_window_path(spark):
    from uw_mapreduce_spark.operators.scale import sliding_aggregate_scalable
    from uw_mapreduce_spark.operators.window import sliding_aggregate

    df = kv(spark, [((i * 37) % 101, (i * 53) % 997) for i in range(300)])
    for agg in ("min", "max"):
        for l in (1, 7, 64, 300, 500):
            a = {
                (r["rank"], r["agg"])
                for r in sliding_aggregate(df, ["key", "value"], "value", l, agg=agg).collect()
            }
            with shuffle_partitions(spark, 5):
                scalable = sliding_aggregate_scalable(df, ["key", "value"], "value", l, agg=agg)
            b = {(r["rank"], r["agg"]) for r in scalable.collect()}
            assert a == b, (agg, l)


def test_salted_join_matches_plain_join(spark):
    from uw_mapreduce_spark.operators.partitioning import salted_join
    import pytest
    from pyspark.sql import functions as F

    # one hot key (90% of rows) + a tail; dim with one row per key
    left = spark.range(0, 1000).select(
        F.when(F.col("id") < 900, F.lit(1)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    right = spark.createDataFrame(
        [(1, "hot"), (950, "cold"), (999, "cold")], "k long, tag string"
    )
    plain = {(r.k, r.payload, r.tag) for r in left.join(right, "k", "left").collect()}
    salted = {
        (r.k, r.payload, r.tag)
        for r in salted_join(left, right, ["k"], salt=8, how="left", salt_from=["payload"]).collect()
    }
    assert salted == plain and len(plain) == 1000
    inner_plain = {(r.k, r.payload) for r in left.join(right, "k").collect()}
    inner_salted = {(r.k, r.payload) for r in salted_join(left, right, ["k"], salt=8).collect()}
    assert inner_salted == inner_plain and len(inner_plain) == 902
    with pytest.raises(ValueError):
        salted_join(left, right, ["k"], how="full")


def test_salted_join_row_order_spreads_identical_rows(spark):
    """Content salting cannot spread BYTE-IDENTICAL hot rows (they all
    hash to one salt); row_order mode must cycle them across >= salt/2
    salt values, and the join result must still equal the plain join."""
    from pyspark.sql import functions as F

    from uw_mapreduce_spark.operators.partitioning import _salt_expr, salted_join

    salt = 8
    # 50% of the input is one literally identical row (k=1, payload=0).
    left = spark.range(0, 2000).select(
        F.when(F.col("id") < 1000, F.lit(1)).otherwise(F.col("id")).alias("k"),
        F.when(F.col("id") < 1000, F.lit(0)).otherwise(F.col("id")).alias("payload"),
    )
    right = spark.createDataFrame([(1, "hot"), (1500, "cold")], "k long, tag string")

    content_spread = (
        left.where("k = 1")
        .select(_salt_expr(salt, None, "content", left.columns).alias("s"))
        .distinct().count()
    )
    row_order_spread = (
        left.where("k = 1")
        .select(_salt_expr(salt, None, "row_order", left.columns).alias("s"))
        .distinct().count()
    )
    assert content_spread == 1  # the documented content-mode limitation
    assert row_order_spread >= salt // 2

    plain = sorted((r.k, r.payload, r.tag) for r in left.join(right, "k").collect())
    salted = sorted(
        (r.k, r.payload, r.tag)
        for r in salted_join(left, right, ["k"], salt=salt, salt_mode="row_order").collect()
    )
    assert salted == plain and len(plain) == 1001


def test_stratified_sample_deterministic_and_rebalancing(spark, sf_oracle):
    """sampleBy with a seed reproduces exactly and actually rebalances:
    the downsampled language keeps roughly its fraction, fraction-1.0
    languages keep every row."""
    import pyspark.sql.functions as F

    from uw_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_oracle, "documents")
    fractions = {"en": 0.25, "de": 1.0, "es": 1.0, "fr": 1.0, "zh": 1.0}
    s1 = docs.sampleBy("lang", fractions, seed=42).select("doc_id", "lang")
    s2 = docs.sampleBy("lang", fractions, seed=42).select("doc_id", "lang")
    assert {r.doc_id for r in s1.collect()} == {r.doc_id for r in s2.collect()}
    full = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    kept = {r["lang"]: r["n"] for r in s1.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang in ("de", "es", "fr", "zh"):
        assert kept[lang] == full[lang]
    assert kept["en"] < full["en"] * 0.5  # en actually downsampled


def test_pack_documents_stream_invariants(spark):
    """Token-stream packing: offsets are the exclusive prefix sum in
    order (contiguous, gap-free), pack ranges cover exactly the
    document's token span, zero-token docs span one (empty) window, and
    the assignment is identical whatever the input partitioning."""
    from pyspark.sql import functions as F

    from uw_mapreduce_spark.operators.packing import pack_documents

    docs = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"),
        # sizes 0..99 cyclically, incl. zero-token docs and docs larger
        # than the budget below
        (F.col("id") % 100).cast("long").alias("n_tokens"),
    )
    with shuffle_partitions(spark, 8):
        out = pack_documents(docs, "n_tokens", budget=64, order_by=["doc_id"])
    rows = sorted((r.doc_id, r.n_tokens, r.start_offset, r.first_pack, r.last_pack, r.n_packs_spanned)
                  for r in out.collect())
    # contiguous stream: each start is the previous end
    expect_start = 0
    for doc_id, n, start, first, last, spans in rows:
        assert start == expect_start, (doc_id, start, expect_start)
        expect_start += n
        assert first == start // 64
        assert last == ((start + n - 1) // 64 if n > 0 else first)
        assert spans == last - first + 1
    # partitioning-invariance (pure function of the data)
    with shuffle_partitions(spark, 8):
        out13 = pack_documents(docs.repartition(13), "n_tokens", budget=64, order_by=["doc_id"])
    assert sorted(tuple(r) for r in out13.select(*out.columns).collect()) == sorted(
        tuple(r) for r in out.select(*out.columns).collect()
    )


def test_deterministic_shuffle_is_stable_permutation(spark):
    """The shuffle rank is a permutation of 0..n-1, reproducible across
    calls and input partitionings, and actually scrambles the input
    order (not the identity permutation)."""
    from pyspark.sql import functions as F

    from uw_mapreduce_spark.operators.packing import deterministic_shuffle

    df = spark.range(0, 5000).select(F.col("id").alias("doc_id"))
    a = {r.doc_id: r.shuffle_rank for r in deterministic_shuffle(df, ["doc_id"]).collect()}
    b = {r.doc_id: r.shuffle_rank for r in deterministic_shuffle(df.repartition(7), ["doc_id"]).collect()}
    assert a == b
    assert sorted(a.values()) == list(range(5000))
    moved = sum(1 for k, v in a.items() if k != v)
    assert moved > 4500  # md5 order is nothing like id order


def test_apply_changelog_semantics(spark):
    """CDC merge contract: latest change per key wins, tombstones drop
    the key (even over the snapshot), untouched snapshot keys survive,
    and snapshot=None degrades to pure changelog compaction."""
    from pyspark.sql import functions as F

    from uw_mapreduce_spark.operators.merge import apply_changelog

    snap = spark.createDataFrame(
        [(1, 100), (2, 200), (3, 300)], "k long, v long"
    )
    chg = spark.createDataFrame(
        [
            (1, 111, "U", 10),   # upsert over snapshot
            (1, 122, "U", 20),   # later upsert wins
            (2, 0, "D", 15),     # tombstone drops snapshot key
            (4, 444, "U", 5),    # brand-new key
            (5, 555, "U", 7),    # inserted...
            (5, 0, "D", 9),      # ...then deleted: never appears
        ],
        "k long, v long, op string, seq long",
    )
    got = {
        (r.k, r.v)
        for r in apply_changelog(snap, chg, ["k"], ["seq"]).select("k", "v").collect()
    }
    assert got == {(1, 122), (3, 300), (4, 444)}

    compacted = {
        (r.k, r.v)
        for r in apply_changelog(None, chg, ["k"], ["seq"]).select("k", "v").collect()
    }
    assert compacted == {(1, 122), (4, 444)}


def test_chunk_documents_window_math(spark):
    """Chunk contract: stride = chunk - overlap; last chunk short; short
    docs yield one chunk; empty docs yield none; consecutive chunks
    overlap by exactly `overlap` tokens."""
    from uw_mapreduce_spark.operators.packing import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),  # 10 tokens
            (2, "a b c"),                               # shorter than chunk
            (3, "   "),                                 # empty after trim
        ],
        "doc_id long, text string",
    )
    rows = {
        (r.doc_id, r.chunk_idx): r
        for r in chunk_documents(docs, "text", "doc_id", chunk_tokens=4, overlap=1).collect()
    }
    # doc 1: stride 3 -> starts 0,3,6,9 => ceil((10-1)/3)=3 chunks? (10-1+2)//3 = 3
    d1 = sorted(k for k in rows if k[0] == 1)
    assert d1 == [(1, 0), (1, 1), (1, 2)]
    assert [rows[k].token_start for k in d1] == [0, 3, 6]
    assert [rows[k].chunk_len for k in d1] == [4, 4, 4]
    # doc 2: one short chunk
    assert rows[(2, 0)].token_start == 0 and rows[(2, 0)].chunk_len == 3
    # doc 3: no chunks
    assert not any(k[0] == 3 for k in rows)
    # chunks tile the doc with the requested overlap
    import hashlib
    toks = [f"t{i}" for i in range(10)]
    for (doc, idx), r in rows.items():
        if doc == 1:
            want = " ".join(toks[r.token_start : r.token_start + 4])
            assert r.chunk_md5 == hashlib.md5(want.encode()).hexdigest()


def test_order_statistic_bounds_match_sorted_index(spark):
    """The rank-based bounds must equal the value at sorted index
    (n-1)*p//1000 — checked against a brute-force sort, duplicates and
    multiple groups included."""
    import random

    from uw_mapreduce_spark.operators.sampling import (
        order_statistic_bounds,
        winsorized_summary,
    )

    rng = random.Random(7)
    rows = [("a", rng.randrange(0, 50)) for _ in range(997)] + [
        ("b", rng.randrange(-20, 5)) for _ in range(313)
    ]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {
        r.g: (r.lo, r.hi, r.n)
        for r in order_statistic_bounds(df, ["g"], "v", 50, 950).collect()
    }
    for g in ("a", "b"):
        vals = sorted(v for gg, v in rows if gg == g)
        n = len(vals)
        assert got[g] == (vals[(n - 1) * 50 // 1000], vals[(n - 1) * 950 // 1000], n)

    # winsorized sum equals the brute-force clamped sum
    ws = {r.g: r for r in winsorized_summary(df, ["g"], "v", 50, 950).collect()}
    for g in ("a", "b"):
        vals = [v for gg, v in rows if gg == g]
        lo, hi, _ = got[g]
        assert ws[g].sum_winsorized == sum(min(max(v, lo), hi) for v in vals)
        assert ws[g].n_clamped_lo == sum(1 for v in vals if v < lo)
        assert ws[g].n_clamped_hi == sum(1 for v in vals if v > hi)


def test_apply_changelog_scales_with_hot_key(spark):
    """Volume + skew stress for the CDC merge: 2M changes over 100k keys
    with one key receiving 10% of all traffic. The map-side
    WindowGroupLimit keeps the shuffle per-key-bounded, so this must
    complete quickly and agree with a groupBy-max reference computed
    from the same frame."""
    from pyspark.sql import functions as F

    from uw_mapreduce_spark.operators.merge import apply_changelog

    n = 2_000_000
    chg = (
        spark.range(n)
        .select(
            F.when(F.col("id") % 10 == 0, F.lit(0))
            .otherwise((F.col("id") * 2654435761) % 100_000)
            .alias("k"),
            F.col("id").alias("v"),
            F.when(F.col("id") % 97 == 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
            F.col("id").alias("seq"),
        )
    )
    merged = apply_changelog(None, chg, ["k"], ["seq"])
    # Reference: per key, the max-seq row decides survival and value.
    ref = (
        chg.withColumn(
            "_packed",
            F.struct(F.col("seq"), F.col("op"), F.col("v")),
        )
        .groupBy("k")
        .agg(F.max("_packed").alias("w"))
        .where(F.col("w.op") != "D")
        .select("k", F.col("w.v").alias("v"))
    )
    assert merged.select("k", "v").exceptAll(ref).count() == 0
    assert ref.exceptAll(merged.select("k", "v")).count() == 0
    # the hot key (10% of rows) must resolve to exactly one surviving row
    hot = merged.where(F.col("k") == 0).collect()
    assert len(hot) <= 1


def test_incremental_rollup_equals_recompute_and_drops_empty_groups(spark):
    from pyspark.sql import functions as F

    from uw_mapreduce_spark.operators.merge import incremental_rollup

    base = spark.createDataFrame(
        [("u1", 10), ("u1", 20), ("u2", 5), ("u3", 7)], "k string, v long"
    )
    snapshot = base.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n"), F.sum("v").cast("long").alias("sum_v")
    )
    # inserts for u1/u4; u3 fully retracted (group must disappear).
    changelog = spark.createDataFrame(
        [("u1", 100, 1), ("u4", 1, 1), ("u3", 7, -1)], "k string, v long, weight int"
    )
    got = {r["k"]: (r["n"], r["sum_v"]) for r in
           incremental_rollup(snapshot, changelog, ["k"], "v").collect()}
    assert got == {"u1": (3, 130), "u2": (1, 5), "u4": (1, 1)}
    # cold start (snapshot=None) aggregates the changelog alone
    cold = {r["k"]: (r["n"], r["sum_v"]) for r in
            incremental_rollup(None, changelog, ["k"], "v").collect()}
    assert cold == {"u1": (1, 100), "u4": (1, 1)}


def test_hash_split_is_deterministic_partition_and_total(spark):
    import pytest
    from pyspark.sql import functions as F

    from uw_mapreduce_spark.operators.split import hash_sample, hash_split

    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    splits = [("train", 900), ("val", 50), ("test", 50)]
    a = hash_split(df, "doc_id", splits)
    b = hash_split(df.repartition(13), "doc_id", splits)
    # Partitioning-invariant: identical assignment row-for-row.
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    counts = {r["split"]: r["n"] for r in a.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 2000  # total partition of the corpus
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    # ~uniform: train within 10% of its 90% expectation
    assert abs(counts["train"] - 1800) < 180
    # sample ⊂ corpus, deterministic, and independent under a new salt
    s1 = hash_sample(df, "doc_id", 100)
    s2 = hash_sample(df, "doc_id", 100)
    assert s1.exceptAll(s2).count() == 0
    assert abs(s1.count() - 200) < 80
    with pytest.raises(ValueError):
        hash_split(df, "doc_id", [("a", 500), ("b", 400)])  # sums to 900


def test_table_diff_classifies_all_four_statuses(spark):
    from uw_mapreduce_spark.operators.diff import table_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, s string, v long"
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 99), (4, "d", 40)], "k long, s string, v long"
    )
    got = {r["k"]: r["diff_status"] for r in table_diff(old, new, ["k"]).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}
    # NULL vs empty string must classify as changed, not unchanged.
    o2 = spark.createDataFrame([(1, None)], "k long, s string")
    n2 = spark.createDataFrame([(1, "")], "k long, s string")
    assert table_diff(o2, n2, ["k"]).collect()[0]["diff_status"] == "changed"


def test_scd2_intervals_chain(spark):
    from uw_mapreduce_spark.operators.merge import scd2_intervals

    rows = [("k", 10, "a"), ("k", 20, "b"), ("k", 30, "c"), ("q", 5, "z")]
    df = spark.createDataFrame(rows, "key string, ts long, val string")
    got = {
        (r["key"], r["val"]): (r["valid_from"], r["valid_to"], r["is_current"])
        for r in scd2_intervals(df, ["key"], ["ts"]).collect()
    }
    assert got == {
        ("k", "a"): (10, 20, False),
        ("k", "b"): (20, 30, False),
        ("k", "c"): (30, None, True),
        ("q", "z"): (5, None, True),
    }


def test_bfs_hops_settles_min_distance(spark):
    from uw_mapreduce_spark.operators.graph import bfs_hops

    # chain 1-2-3-4-5 plus shortcut 1-4; seed {1}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (1, 4)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "v long")
    got = {r["v"]: r["hop"] for r in bfs_hops(edges, seeds, max_hops=5).collect()}
    # 4 is reachable in 1 via the shortcut, NOT 3 via the chain
    assert got == {1: 0, 2: 1, 4: 1, 3: 2, 5: 2}


def test_bfs_hops_respects_max_and_disconnected(spark):
    from uw_mapreduce_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "v long")
    got = {r["v"]: r["hop"] for r in bfs_hops(edges, seeds, max_hops=2).collect()}
    assert got == {1: 0, 2: 1, 3: 2}  # 4 beyond max_hops, 10/11 disconnected


def test_grouped_weighted_median_exact(spark):
    from uw_mapreduce_spark.operators.rank import grouped_weighted_median

    # group A: values 1(w1), 2(w1), 3(w10) -> W=12, half=6 -> median 3
    # group B: values 1(w5), 2(w5)        -> W=10, 2*cw(1)=10 >= 10 -> lower median 1
    rows = [("A", 1, 1), ("A", 2, 1), ("A", 3, 10), ("B", 1, 5), ("B", 2, 5)]
    df = spark.createDataFrame(rows, "g string, v long, w long")
    got = {r["g"]: r["wmedian"] for r in grouped_weighted_median(df, ["g"], "v", "w").collect()}
    assert got == {"A": 3, "B": 1}


def test_grouped_weighted_median_matches_unweighted_when_w1(spark):
    import statistics

    from uw_mapreduce_spark.operators.rank import grouped_weighted_median

    vals = [7, 1, 9, 3, 5]
    df = spark.createDataFrame([("g", v, 1) for v in vals], "g string, v long, w long")
    got = grouped_weighted_median(df, ["g"], "v", "w").collect()[0]["wmedian"]
    assert got == statistics.median_low(vals)


def test_personalized_pagerank_concentrates_on_seed_neighborhood(spark):
    from uw_mapreduce_spark.operators.graph import pagerank, personalized_pagerank

    # two disconnected stars; seeds only in the first
    edges = [(1, 10), (1, 11), (2, 20), (2, 21)]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "v long")
    ppr = {r["v"]: r["rank_micro"] for r in personalized_pagerank(df, seeds).collect()}
    # the un-seeded component receives ZERO mass (teleport never lands there)
    assert ppr[2] == 0 and ppr[20] == 0 and ppr[21] == 0
    assert ppr[1] > 0 and ppr[10] > 0
    # global pagerank by contrast gives the second star mass too
    gpr = {r["v"]: r["rank_micro"] for r in pagerank(df).collect()}
    assert gpr[2] > 0


def test_personalized_pagerank_empty_seeds_all_zero(spark):
    from uw_mapreduce_spark.operators.graph import personalized_pagerank

    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    seeds = spark.createDataFrame([], "v long")
    out = {r["v"]: r["rank_micro"] for r in personalized_pagerank(df, seeds).collect()}
    assert out == {1: 0, 2: 0}


def test_ab_ztest_degenerate_guard_and_sign(spark, sf_small):
    """The z-test face must return a finite z (degenerate pooled
    variance -> 0.0 by contract), with counts consistent."""
    from uw_mapreduce_spark.plans.catalog import QUERIES

    r = QUERIES["ab_test_ztest_events"](spark, sf_small).collect()[0]
    assert r["n_a"] > 0 and r["n_b"] > 0
    assert 0 <= r["conv_a"] <= r["n_a"] and 0 <= r["conv_b"] <= r["n_b"]
    import math

    assert math.isfinite(r["z"])


def test_pareto_frontier_matches_quadratic_model(spark):
    import random

    from uw_mapreduce_spark.operators.skyline import pareto_frontier

    rng = random.Random(5)
    rows = [(i, rng.randrange(100), rng.randrange(100)) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    got = {r["id"] for r in pareto_frontier(df, "x", "y").collect()}
    want = {
        i for i, x, y in rows
        if all(not (x2 < x and y2 >= y) for _, x2, y2 in rows)
    }
    assert got == want


def test_pareto_frontier_min_x_rows_always_survive(spark):
    from uw_mapreduce_spark.operators.skyline import pareto_frontier

    df = spark.createDataFrame([(1, 5, 0), (2, 5, 99), (3, 9, 100)], "id long, x long, y long")
    got = {r["id"] for r in pareto_frontier(df, "x", "y").collect()}
    assert got == {1, 2, 3}  # both min-x rows vacuously survive; y=100 beats best_below=99


def test_gap_fill_interpolate_exact_lerp(spark):
    from pyspark.sql import functions as F

    from uw_mapreduce_spark.operators.resample import gap_fill_interpolate

    # key 1: obs at hour 0 (v=100) and hour 4 (v=500) -> hours 1..3
    # interpolate 200/300/400; descending key 2: 1000 -> 400 over 3 hours.
    rows = [
        (1, 0, 100), (1, 4 * 3600_000_000, 500),
        (2, 0, 1000), (2, 3 * 3600_000_000, 400),
    ]
    df = spark.createDataFrame(rows, "k long, t_us long, v long").select(
        "k", F.timestamp_micros(F.col("t_us")).alias("ts"), "v"
    )
    out = {
        (r["k"], r["bucket"]): r["filled"]
        for r in gap_fill_interpolate(df, ["k"], "ts", "v").collect()
    }
    assert out[(1, 1)] == 200 and out[(1, 2)] == 300 and out[(1, 3)] == 400
    assert out[(2, 1)] == 800 and out[(2, 2)] == 600  # negative slope
    assert out[(1, 0)] == 100 and out[(1, 4)] == 500  # observed kept


def test_grouped_quantiles_exact_order_statistics(spark):
    import math

    from uw_mapreduce_spark.operators.rank import grouped_quantiles

    vals = [5, 1, 9, 3, 7, 2, 8, 4, 6, 10]  # 1..10
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v long")
    got = {
        r["q_permille"]: r["value"]
        for r in grouped_quantiles(df, ["g"], "v", [100, 500, 900, 1000]).collect()
    }
    # lower quantile = sorted[ceil(q*n/1000)] 1-indexed
    s = sorted(vals)
    for q in (100, 500, 900, 1000):
        assert got[q] == s[math.ceil(q * len(s) / 1000) - 1], q


def test_grouped_quantiles_duplicate_heavy(spark):
    from uw_mapreduce_spark.operators.rank import grouped_quantiles

    df = spark.createDataFrame([("g", 1)] * 9 + [("g", 100)], "g string, v long")
    got = {
        r["q_permille"]: r["value"]
        for r in grouped_quantiles(df, ["g"], "v", [500, 950]).collect()
    }
    assert got[500] == 1 and got[950] == 100


def test_k_core_matches_python_peeling(spark):
    import random
    from collections import Counter

    from uw_mapreduce_spark.operators.graph import k_core

    rng = random.Random(13)
    edges = list({(rng.randrange(30), 30 + rng.randrange(30)) for _ in range(300)})
    df = spark.createDataFrame(edges, "src long, dst long")
    k = 5
    got = {(r["v"], r["core_deg"]) for r in k_core(df, k=k).collect()}

    und = edges + [(b, a) for a, b in edges]
    cur = {a for a, _ in und}
    while True:
        deg = Counter()
        for a, b in und:
            if a in cur and b in cur:
                deg[a] += 1
        nxt = {v for v in cur if deg[v] >= k}
        if nxt == cur:
            break
        cur = nxt
    want = {(v, deg[v]) for v in cur}
    assert got == want


def test_k_core_empty_when_k_exceeds_graph(spark):
    from uw_mapreduce_spark.operators.graph import k_core

    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    assert k_core(df, k=10).count() == 0
