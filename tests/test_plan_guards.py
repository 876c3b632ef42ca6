"""Plan-regression guards for the costliest catalog faces (judge r7
item 8): explain-string assertions that fail loudly if a refactor
reintroduces a scale-killer — a dropped broadcast, a cartesian fallback
where a grid/bucket join belongs, or an un-checkpointed iterative loop
whose lineage doubles per step.

These complement `test_plans.py` (scan pushdown, exchange shapes) and
pin exactly the properties VERDICT r7's plan audit called load-bearing:
q5's star-join broadcasts, DBSCAN's 3x3 cell candidate join, the graph
loops' localCheckpoint discipline, curation v6's fused-broadcast tail,
and the co-shipping densification guard.
"""

from __future__ import annotations

from conftest import shuffle_partitions

from uw_mapreduce_spark.plans.catalog import QUERIES, _coship_supplier_edges


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q5_keeps_star_join_broadcasts(spark, sf_small):
    """q5's 6-table star must broadcast its dimension chain — a silent
    fallback to SortMergeJoin against region/nation/supplier would
    shuffle the fact table once per dimension at 100 TB."""
    plan = _plan(QUERIES["q5_local_supplier"](spark, sf_small))
    assert plan.count("BroadcastHashJoin") >= 4, plan.count("BroadcastHashJoin")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dbscan_stays_grid_joined(spark, sf_small):
    """DBSCAN's eps-neighborhood candidates come from the 3x3 grid-cell
    equi-join (proven lossless vs the all-pairs oracle) — any cartesian
    or nested-loop fallback is the quadratic plan it exists to avoid,
    and the corpus must be scanned once (checkpoint-fed stages)."""
    plan = _plan(QUERIES["dbscan_embeddings_2d"](spark, sf_small))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("Scan parquet") <= 1, plan.count("Scan parquet")


def test_iterative_graph_loops_stay_checkpointed(spark, sf_small):
    """weighted PageRank / HITS embed a broadcast aggregate of the
    previous iterate in each update, so an un-checkpointed loop DOUBLES
    the plan per half-step (2^steps subtrees; 57 s vs 20.5 s measured
    at sf1).  localCheckpoint(eager) per iterate keeps the final plan a
    shallow read of materialized RDDs — pin both properties."""
    for name in ("weighted_pagerank_purchases", "hits_purchase_graph"):
        plan = _plan(QUERIES[name](spark, sf_small))
        assert "ExistingRDD" in plan, name
        # A lineage blow-up is visible as an explain string thousands of
        # lines deep; the checkpointed plan is a few hundred chars.
        assert len(plan) < 5_000, (name, len(plan))


def test_curation_v6_fused_tail_no_cartesian(spark, sf_small):
    """The fused lexical+semantic curation pipeline joins its manifest
    and threshold frames broadcast-side; a cartesian (or nested-loop)
    regression would multiply the document corpus."""
    plan = _plan(QUERIES["curation_pipeline_v6"](spark, sf_small))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 1


def test_ngram_jaccard_stays_inverted_index(spark, sf_small):
    """The Jaccard pair stage must be the shingle-keyed inverted-index
    self-join (cost sum(df^2)), never an all-pairs document join."""
    plan = _plan(QUERIES["ngram_jaccard_documents"](spark, sf_small))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _call_jobs(spark, group, call):
    """Run ``call`` under job group ``group``: (its result, the Spark
    jobs it launched before returning)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _final_plan(df) -> str:
    """The executed plan after an action: AQE's final plan only."""
    df.collect()
    return _plan(df).split("== Initial Plan ==")[0]


def test_shingle_pair_operators_share_one_exchange_without_barriers(spark, sf_small):
    """With max_df, Jaccard and containment launch no Spark job at call
    time (no cache count, no eager checkpoint), and their executed plan
    tokenizes the corpus once: the per-doc sizes and the pair expansion
    read one reused shingle exchange, and no cache."""
    from uw_mapreduce_spark.caching import release_scope
    from uw_mapreduce_spark.operators import dedup
    from uw_mapreduce_spark.operators.dedup import ngram_containment_pairs, ngram_jaccard_pairs
    from uw_mapreduce_spark.sources.tables import load_table

    # The pair operators free their shingle caches, but
    # cross_corpus_overlap(max_df=...) keeps its train-side table cached
    # for its lazy result; one left in the dedup scope matches this
    # plan's shingles, so Spark would read it in place of the
    # operator's own plan: drop it first.
    release_scope(dedup._SCOPE)
    docs = load_table(spark, sf_small, "documents")
    for fn in (ngram_jaccard_pairs, ngram_containment_pairs):
        out, jobs = _call_jobs(
            spark, f"pairs-{fn.__name__}",
            lambda: fn(docs, "text", "doc_id", n=5, threshold=0.5, max_df=64),
        )
        assert jobs == 0, fn.__name__
        plan = _final_plan(out)
        assert plan.count("Generate explode(array_distinct(") == 1, (fn.__name__, plan)
        assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan, fn.__name__


def test_pair_operators_leave_no_shingle_cache(spark, sf_small):
    """ppjoin, Jaccard without max_df and MinHash LSH unpersist the
    shingle table they cache once their small output is materialized,
    so a max_df Jaccard call after them on the same documents and n
    still tokenizes once and reads no cache (the dedup scope is not
    released here)."""
    from uw_mapreduce_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
        ppjoin_pairs,
    )
    from uw_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    ppjoin_pairs(docs, "text", "doc_id", n=5)
    ngram_jaccard_pairs(docs, "text", "doc_id", n=5)
    minhash_lsh_pairs(docs, "text", "doc_id", n=5)
    plan = _final_plan(ngram_jaccard_pairs(docs, "text", "doc_id", n=5, max_df=64))
    assert plan.count("Generate explode(array_distinct(") == 1, plan
    assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan, plan


def test_snm_is_one_shifted_join_over_the_rank(spark, sf_small):
    """sorted_neighborhood_pairs launches only the range pass's border
    jobs at call time (its ranks are not checkpointed), and pairs each
    rank with its next `window` ranks in ONE join against a shifted
    copy: no union of one join per offset."""
    import re

    from uw_mapreduce_spark.operators.dedup import sorted_neighborhood_pairs
    from uw_mapreduce_spark.operators.scale import global_rank_scalable
    from uw_mapreduce_spark.sources.tables import load_table

    part = load_table(spark, sf_small, "part")
    out, snm_jobs = _call_jobs(
        spark, "snm-pairs", lambda: sorted_neighborhood_pairs(part, "p_name", "p_partkey", 3)
    )
    _, rank_jobs = _call_jobs(
        spark, "snm-rank",
        lambda: global_rank_scalable(
            part.select("p_partkey", "p_name"), ["p_name", "p_partkey"], "_snm_rank"
        ),
    )
    assert snm_jobs == rank_jobs > 0, (snm_jobs, rank_jobs)
    plan = _final_plan(out)
    joins = re.findall(r"\b\w*(?:Join|CartesianProduct)\b", plan)
    assert len(joins) == 1, (joins, plan)
    assert "Union" not in plan, plan


def test_coship_densification_guard(spark, sf_small):
    """The capped co-shipping builder must (a) carry the per-part cap
    in its plan (the sorted-array slice feeding the map-side pair
    expansion — no window, no self-join: two exchanges, not four) and
    (b) be a true guard: identical to the exact graph when the cap
    exceeds every part's fan-out, strictly sparser under a tight cap."""
    capped_plan = _plan(_coship_supplier_edges(spark, sf_small, max_fanout=24))
    assert "slice" in capped_plan and "collect_set" in capped_plan
    assert "Window" not in capped_plan  # the r10 rewrite removed it
    assert "Join" not in capped_plan  # pairs expand map-side

    exact = {
        (r.a, r.b) for r in _coship_supplier_edges(spark, sf_small).collect()
    }
    loose = {
        (r.a, r.b)
        for r in _coship_supplier_edges(spark, sf_small, max_fanout=10_000).collect()
    }
    assert loose == exact  # cap beyond max fan-out: lossless
    tight = {
        (r.a, r.b)
        for r in _coship_supplier_edges(spark, sf_small, max_fanout=2).collect()
    }
    assert tight < exact  # tight cap: strictly sparser subset


def test_capped_coship_consumers_carry_the_guard(spark, sf_small):
    """The PRODUCTION assortativity/modularity faces must build their
    edge list through the densification guard (row_number cap visible
    in the plan) and never fall back to a cartesian — the exact faces
    are the sf0.01 anchors, but these are what runs at scale (VERDICT
    r9 item 2)."""
    # modularity attaches its 1-row 2m scalar via crossJoin(broadcast),
    # which plans as ONE BroadcastNestedLoopJoin with a single-row build
    # side — allowed; anything beyond that is a regression.
    for name, bnlj_budget in (
        ("degree_assortativity_suppliers_capped", 0),
        ("modularity_nations_suppliers_capped", 1),
    ):
        plan = _plan(QUERIES[name](spark, sf_small))
        assert "CartesianProduct" not in plan, name
        assert plan.count("BroadcastNestedLoopJoin") <= bnlj_budget, name
    # The guard itself must be in the edge build these faces call; the
    # faces localCheckpoint the edges so the cap's array slice shows up
    # in the builder plan, not the (ExistingRDD-rooted) consumer plan.
    from uw_mapreduce_spark.plans.catalog import _COSHIP_CAP

    builder_plan = _plan(
        _coship_supplier_edges(spark, sf_small, max_fanout=_COSHIP_CAP)
    )
    assert "slice" in builder_plan and "collect_set" in builder_plan


def test_salted_join_face_spreads_the_hot_keys(spark, sf_small):
    """`salted_join_skew_events` exists to prove the skew remedy; its
    plan must (a) join on the composite (event_type, _salt) key —
    visible as the salt hash in the join's partitioning — and (b)
    never fall back to a cartesian/nested-loop.  A refactor that
    quietly drops the salt turns a 40-slot shuffle back into a 5-slot
    one at cluster width."""
    df = QUERIES["salted_join_skew_events"](spark, sf_small)
    plan = _plan(df)
    assert "xxhash64" in plan, "content-hash salt gone from the plan"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the face's own verdict column must agree (it reads the optimized
    # plan itself; both views must see the salt)
    rows = df.collect()
    assert rows and all(r["salted"] for r in rows)


def test_curation_v7_fused_tail_no_cartesian(spark, sf_small):
    """The release-manifest capstone joins five id-keyed verdict
    frames; a cartesian/nested-loop regression would multiply the
    corpus (same contract as the v6 guard)."""
    plan = _plan(QUERIES["curation_pipeline_v7"](spark, sf_small))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pareto_scalable_route_avoids_unpartitioned_window(spark):
    """The skyline's prefix max runs through the range pass — no
    `Window [...]` without a partitionBy spec over the full histogram
    (VERDICT r8 item 5) — and keeps exactly the rows a brute-force
    skyline keeps."""
    import pyspark.sql.functions as F

    from uw_mapreduce_spark.operators.skyline import pareto_frontier

    df = (
        spark.range(0, 2000)
        .select(
            F.col("id").alias("rid"),
            (F.col("id") % 997).alias("x"),
            ((F.col("id") * 37) % 1009).alias("y"),
        )
    )
    out = pareto_frontier(df, "x", "y")
    rows = [(r.rid, r.x, r.y) for r in df.collect()]
    want = {rid for rid, x, y in rows if all(y > y2 for _r, x2, y2 in rows if x2 < x)}
    assert {r.rid for r in out.collect()} == want
    plan = _plan(out)
    # The single-partition histogram window would show as a Window node
    # whose spec has an empty partition clause; the range pass's only
    # window partitions by _pid.
    import re

    for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        assert "_pid" in m.group(1), f"unpartitioned window survived: {m.group(0)[:200]}"


def _kv_frame(spark):
    import pyspark.sql.functions as F

    return spark.range(0, 3000).select(
        ((F.col("id") * 7919) % 1000).alias("key"), ((F.col("id") * 31) % 97).alias("value")
    )


_RANK_JOIN = r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[[^\]]*\brank#"


def test_scalable_range_pass_has_no_cache_or_rank_join(spark):
    """Scalable sum, min/max and global rank run as ONE range pass:
    halo rows ride the range exchange, so no frame is cached and no
    self-join on a shifted rank is needed for the window's far end."""
    import re

    from uw_mapreduce_spark.operators.scale import (
        global_rank_scalable,
        sliding_aggregate_scalable,
    )

    df = _kv_frame(spark)
    with shuffle_partitions(spark, 4):
        frames = {
            "sum": sliding_aggregate_scalable(df, ["key", "value"], "value", 91),
            "max": sliding_aggregate_scalable(df, ["key", "value"], "value", 91, agg="max"),
            "rank": global_rank_scalable(df, ["key", "value"]),
        }
    for name, out in frames.items():
        plan = _plan(out)
        assert "InMemoryRelation" not in plan, name
        assert not re.search(_RANK_JOIN, plan), (name, plan[:2000])


def test_scalable_minmax_uses_running_frames_only(spark):
    """The block suffix of sliding min/max must be a descending RUNNING
    frame: a (currentRow, unboundedFollowing) frame recomputes the rest
    of the block for every row, O(l) per row."""
    from uw_mapreduce_spark.operators.scale import sliding_aggregate_scalable

    with shuffle_partitions(spark, 4):
        out = sliding_aggregate_scalable(_kv_frame(spark), ["key", "value"], "value", 91, agg="min")
    assert "unboundedfollowing" not in _plan(out).lower()


def _uniform_long_frame(spark, n=20_000):
    import pyspark.sql.functions as F

    return spark.range(n).select(F.xxhash64("id").alias("k"), (F.col("id") % 100).alias("v"))


def test_scalable_pass_job_count(spark):
    """The range pass is one border-histogram job plus the consumer's
    own action: scalable sum (l=91, P=8) and global rank, each through a
    noop write, launch ≤ 4 Spark jobs (a groupBy collect and a shuffled
    write are two jobs each under AQE).  The separate min/max stats scan
    and the P-row count scan are gone."""
    from uw_mapreduce_spark.operators.scale import (
        global_rank_scalable,
        sliding_aggregate_scalable,
    )

    df = _uniform_long_frame(spark)
    calls = {
        "sum": lambda: sliding_aggregate_scalable(df, ["k"], "v", 91),
        "rank": lambda: global_rank_scalable(df, ["k"]),
    }
    for name, call in calls.items():
        with shuffle_partitions(spark, 8):
            _, jobs = _call_jobs(
                spark, f"scalable-jobs-{name}",
                lambda: call().write.format("noop").mode("overwrite").save(),
            )
        assert jobs <= 4, (name, jobs)


def test_scalable_halo_is_row_bounded(spark):
    """Uniform keys, P=8, l=91: the rows written to shuffles (the border
    histogram's and the exchange's) stay ≤ n + P·(l-1) + n/4.  Each
    range's halo is its trailing l-1 rows plus at most one histogram
    interval, not the whole preceding range (which wrote about 2n)."""
    from uw_mapreduce_spark.operators.scale import sliding_aggregate_scalable

    sc = spark.sparkContext
    n, p, l = 20_000, 8, 91
    df = _uniform_long_frame(spark, n)
    group = "scalable-halo-rows"
    sc.setJobGroup(group, group)
    try:
        with shuffle_partitions(spark, p):
            out = sliding_aggregate_scalable(df, ["k"], "v", l)
        out.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # status events reach the store asynchronously
    tracker = sc.statusTracker()
    stage_ids = {
        s for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds
    }
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stages = jsc.statusStore().stageList(None, False, False, no_quantiles, None)
    written = sum(
        stages.apply(i).shuffleWriteRecords()
        for i in range(stages.size())
        if stages.apply(i).stageId() in stage_ids
    )
    assert 0 < written <= n + p * (l - 1) + n // 4, written


def test_scalable_window_tasks_hold_small_pages(spark):
    """Uniform keys, n=100k, P=8, l=91: every task of the window stage
    peaks at ≤ 4 MiB of execution memory.  Each holds ~12.5k rows; with
    Spark's default 32 MiB page on a 4g local[4] session each reported
    32.5 MiB, one page whatever its data."""
    from uw_mapreduce_spark.operators.scale import sliding_aggregate_scalable

    sc = spark.sparkContext
    n, p, l = 100_000, 8, 91
    with shuffle_partitions(spark, p):
        out = sliding_aggregate_scalable(_uniform_long_frame(spark, n), ["k"], "v", l)
    group = "scalable-window-pages"
    _call_jobs(spark, group, lambda: out.write.format("noop").mode("overwrite").save())
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # status events reach the store asynchronously
    tracker, store = sc.statusTracker(), jsc.statusStore()
    stage_ids = {
        s for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds
    }
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stages = store.stageList(None, False, False, no_quantiles, None)
    window_stages = [
        s for s in (stages.apply(i) for i in range(stages.size()))
        if s.stageId() in stage_ids and s.shuffleReadRecords() > 0
    ]
    assert [s.numTasks() for s in window_stages] == [p]
    tasks = store.taskList(window_stages[0].stageId(), window_stages[0].attemptId(), p)
    peaks = [tasks.apply(i).taskMetrics().get().peakExecutionMemory() for i in range(tasks.size())]
    assert len(peaks) == p and max(peaks) <= 4 << 20, peaks


def test_scalable_pass_one_range_per_task(spark):
    """Range k windows in shuffle task k, at every P and range count:
    1, about P/2 and P ranges (few distinct keys for the first two,
    uniform keys for the last).  The non-empty tasks number the ranges,
    each holds one contiguous block of ranks, and the exchange passes
    the range id through (plain pids 0..7 hashed into only 5 of 8
    tasks).  A single range is one exchange, however large P is."""
    import re

    import pyspark.sql.functions as F

    from uw_mapreduce_spark.operators.scale import (
        _deterministic_borders,
        sliding_aggregate_scalable,
    )

    n = 4000
    for p in (1, 3, 8, 13):
        for parts in sorted({1, (p + 1) // 2, p}):
            if parts == p > 1:
                df = _uniform_long_frame(spark, n)
            else:  # `parts` equally frequent keys make `parts` ranges
                df = spark.range(n).select((F.col("id") % parts).alias("k"), (F.col("id") % 100).alias("v"))
            borders = _deterministic_borders(df, "k", p)
            assert len(borders) + 1 == parts, (p, parts, borders)
            with shuffle_partitions(spark, p):
                out = sliding_aggregate_scalable(df, ["k"], "v", 91)
            blocks = (
                out.withColumn("p", F.spark_partition_id())
                .groupBy("p")
                .agg(F.min("rank").alias("lo"), F.max("rank").alias("hi"), F.count(F.lit(1)).alias("n"))
                .collect()
            )
            assert len(blocks) == parts, (p, parts, blocks)
            assert all(b["hi"] - b["lo"] + 1 == b["n"] for b in blocks), (p, parts, blocks)
            assert sum(b["n"] for b in blocks) == n, (p, parts, blocks)
            plan = _plan(out).lower()
            if parts > 1:
                assert "shufflepartitionidpassthrough(" in plan, (p, parts, plan[:2000])
            else:  # one range: one SinglePartition exchange, no pass-through under it
                assert len(re.findall(r"\bexchange ", plan)) == 1, (p, parts, plan[:2000])
            assert "hashpartitioning(_pid" not in plan, (p, parts, plan[:2000])


def test_prefix_max_scalable_defaults_to_shuffle_partitions(spark):
    """prefix_scalable builds as many ranges as its siblings: the
    session's shuffle partitions, not a fixed 32."""
    from uw_mapreduce_spark.operators.scale import prefix_scalable

    out = prefix_scalable(_uniform_long_frame(spark, 2000), ["k"], "v", agg="max")
    assert out.rdd.getNumPartitions() == int(spark.conf.get("spark.sql.shuffle.partitions"))


def test_range_pass_is_private_to_scale():
    """Consumers reach the range pass only through the public entry
    points of `operators/scale.py` (global_rank_scalable,
    prefix_scalable, sliding_aggregate_scalable): no other package
    module names `_ranged_with_offsets`, and the only private names any
    of them take from `scale` are the border helpers of the blocked
    BLAS kernels, in `similarity._blocked_pairs`."""
    import ast
    import pathlib

    import uw_mapreduce_spark

    root = pathlib.Path(uw_mapreduce_spark.__file__).parent
    named, private = set(), set()

    def scan(node, rel, where):
        for child in ast.iter_child_nodes(node):
            inner = child.name if isinstance(child, ast.FunctionDef) else where
            idents = (getattr(child, f, None) for f in ("id", "attr", "name"))
            if "_ranged_with_offsets" in idents:
                named.add(rel)
            if isinstance(child, ast.ImportFrom) and (child.module or "").split(".")[-1] == "scale":
                private.update((rel, where, a.name) for a in child.names if a.name.startswith("_"))
            if isinstance(child, ast.Attribute) and getattr(child.value, "id", None) == "scale":
                if child.attr.startswith("_"):
                    private.add((rel, where, child.attr))
            scan(child, rel, inner)

    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel != "operators/scale.py":
            scan(ast.parse(path.read_text()), rel, None)
    assert named == set(), named
    assert private == {
        ("operators/similarity.py", "_blocked_pairs", "_deterministic_borders"),
        ("operators/similarity.py", "_blocked_pairs", "_pid_expr"),
    }, private


def test_range_count_is_a_session_setting():
    """The range count P is the session's shuffle partitions, read in
    one place: no function of the range pass, nor of the consumers that
    only forwarded a count (ntile, AUC, rank-sum, packing, shuffle),
    takes `num_partitions`.  `_deterministic_borders` keeps its third
    argument: `similarity._blocked_pairs` passes it a block count."""
    import inspect

    from uw_mapreduce_spark.operators import evaluation, packing, rank, scale

    public = {
        scale: {"sliding_aggregate_scalable", "global_rank_scalable", "prefix_scalable"},
        rank: {"ntile_scalable"},
        evaluation: {"roc_auc", "rank_sum_test"},
        packing: {"pack_documents", "deterministic_shuffle"},
    }
    takes = set()
    for mod, names in public.items():
        fns = {
            name: f for name, f in inspect.getmembers(mod, inspect.isfunction)
            if f.__module__ == mod.__name__
        }
        assert names <= set(fns), (mod.__name__, names - set(fns))
        takes |= {
            f"{mod.__name__}.{name}" for name, f in fns.items()
            if "num_partitions" in inspect.signature(f).parameters
        }
    assert takes == {"uw_mapreduce_spark.operators.scale._deterministic_borders"}, takes


def test_range_consumers_default_to_shuffle_partitions(spark, sf_small, monkeypatch):
    """roc_auc and the quantile-normalize face build as many ranges as
    the session has shuffle partitions, not a fixed 32, and follow that
    conf when it changes."""
    import pyspark.sql.functions as F

    from uw_mapreduce_spark.operators import scale
    from uw_mapreduce_spark.operators.evaluation import roc_auc

    asked = []
    borders = scale._deterministic_borders

    def recording(*args, **kwargs):
        asked.append(args[2])
        return borders(*args, **kwargs)

    monkeypatch.setattr(scale, "_deterministic_borders", recording)
    scored = spark.range(200).select(
        (F.col("id") % 2).alias("is_pos"), ((F.col("id") * 37) % 101).cast("double").alias("score")
    )
    roc_auc(scored)
    QUERIES["quantile_normalize_events"](spark, sf_small)
    want = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert len(asked) >= 2 and set(asked) == {want}, asked

    asked.clear()
    with shuffle_partitions(spark, 3):
        roc_auc(scored)
        QUERIES["quantile_normalize_events"](spark, sf_small)
    assert len(asked) >= 2 and set(asked) == {3}, asked


def test_blocked_kernels_size_blocks_from_border_counts(spark, sf_small):
    """Multi-block BLAS kernels read each block's size from the borders'
    exact counts: the call launches only the corpus count (2 jobs) and
    the border histogram with its refinement passes, never a separate
    block-size job."""
    from uw_mapreduce_spark.operators.similarity import (
        cosine_near_dup_pairs_numpy,
        knn_self_blas,
    )
    from uw_mapreduce_spark.sources.tables import load_table

    sc = spark.sparkContext
    emb = load_table(spark, sf_small, "embeddings")
    calls = {
        "near-dup": lambda: cosine_near_dup_pairs_numpy(emb, 0.30, block_rows=64),
        "knn": lambda: knn_self_blas(emb, k=3, block_rows=64),
    }
    for name, call in calls.items():
        group = f"blocked-call-jobs-{name}"
        sc.setJobGroup(group, group)
        try:
            call()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert len(jobs) <= 6, (name, len(jobs))


def test_load_table_reuses_and_invalidates_the_inferred_schema(spark, sf_small, tmp_path):
    """Only the first load of an unchanged table runs Spark's one-task
    schema-inference job; a rewritten table, or a changed inference
    conf, is inferred again; a missing table raises Spark's own error;
    and the stream replay takes the batch loader's schema without a job."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest
    from pyspark.errors import AnalysisException

    from uw_mapreduce_spark.sources.tables import load_table
    from uw_mapreduce_spark.streaming.sliding import stream_events

    sf = str(tmp_path)
    path = f"{sf}/orders.parquet"
    spark.range(5).write.parquet(path)
    first, jobs = _call_jobs(spark, "memo-first", lambda: load_table(spark, sf, "orders"))
    assert jobs == 1
    second, jobs = _call_jobs(spark, "memo-second", lambda: load_table(spark, sf, "orders"))
    assert jobs == 0
    assert second.schema == first.schema
    assert sorted(r.id for r in second.collect()) == list(range(5))

    spark.range(3).selectExpr("id", "id * 10 AS extra").write.mode("overwrite").parquet(path)
    got = load_table(spark, sf, "orders")
    assert got.columns == ["id", "extra"]
    assert sorted(tuple(r) for r in got.collect()) == [(0, 0), (1, 10), (2, 20)]

    # A file without Spark's own schema in its footer, so the conf decides.
    pq.write_table(pa.table({"t": pa.array([0], pa.timestamp("us"))}), f"{sf}/part.parquet")
    assert load_table(spark, sf, "part").dtypes == [("t", "timestamp_ntz")]
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    try:
        assert load_table(spark, sf, "part").dtypes == [("t", "timestamp")]
    finally:
        spark.conf.unset("spark.sql.parquet.inferTimestampNTZ.enabled")

    with pytest.raises(AnalysisException) as missing:
        load_table(spark, sf, "region")
    assert missing.value.getCondition() == "PATH_NOT_FOUND"

    batch = load_table(spark, sf_small, "events")
    stage = tmp_path / "stage"
    stage.mkdir()
    stream, jobs = _call_jobs(
        spark, "memo-stream", lambda: stream_events(spark, sf_small, staging_dir=str(stage))
    )
    assert jobs == 0
    assert stream.schema == batch.schema
