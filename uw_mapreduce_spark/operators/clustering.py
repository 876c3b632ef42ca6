"""Exact integer-grid Lloyd k-means — clustering that value-hashes.

`similarity.kmeans_centroids` (the IVF build) is deterministic within
Spark but keeps float centroids, so no other engine can replay it
bit-for-bit.  This operator makes the whole Lloyd loop EXACT integer
arithmetic, the same contract as the centroid classifier:

- components on the int64 grid (``floor(x·10⁶)``),
- centroids as integer grids too: ``μ' = S DIV n`` (trunc toward zero
  — identical in Spark DECIMAL DIV, DuckDB HUGEINT ``//``, Python),
- assignment by exact int64 squared L2 distance Σ(c−μ)², ties to the
  smallest centroid id,
- seeds are the k corpus vectors with the smallest portable md5-derived
  id hash (the repo's `split.hash_permille` idiom — a deterministic
  uniform draw both engines reproduce), tie-broken by id,
- an emptied cluster keeps its previous centroid.

Every quantity either engine materializes is an integer, so a DuckDB
twin unrolls the same iterations as CTEs and hash-matches the final
centroid grid — a fully value-hash-oracled CLUSTERING face, which
float k-means cannot be.

Scale shape (100 TB): per iteration the assignment is MAP-ONLY (the
k·dim centroid grid rides as literal arrays inside codegen — the
classify.py pattern), and the update aggregates the dim components as
COLUMNS (map-side partial combine into k rows of dim sum buffers; the
posexplode → groupBy(cluster, pos) shape stands as the guarded
fallback above the column-agg dim bound).  The driver holds k·dim
ints — the same legitimate tiny collect as the IVF centroid table.

Reference parity: the reference engine has no clustering surface; this
extends its aggregation layer (SlidingAggregation.java:433-536) with
the unsupervised primitive curation pipelines use for corpus
stratification and diversity sampling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import persist_scoped
from . import similarity as _sim
from .classify import _quantized

__all__ = ["kmeans_lloyd_exact"]


def _trunc_div(a: int, b: int) -> int:
    return (abs(a) // b) * (1 if a >= 0 else -1)


def kmeans_lloyd_exact(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 1_000_000,
) -> DataFrame:
    """(cent_id, pos, mu, n_members) — the integer centroid grid after
    ``iters`` exact Lloyd steps, with each centroid's final assignment
    count (0 if it emptied; it then keeps its previous grid)."""
    spark = df.sparkSession
    # the quantized frame feeds the seed draw plus one stats collect per
    # iteration — cache it so the corpus is read and floor-quantized
    # once, not iters+1 times.
    q = persist_scoped(
        df.select(F.col(id_col).alias("_id"), _quantized(vec_col, scale).alias("_c")),
        "kmeans",
    )
    h = (
        F.conv(F.substring(F.md5(F.col("_id").cast("string")), 1, 12), 16, 10)
        .cast("long")
        .alias("_h")
    )
    seed_rows = (
        q.select("_id", "_c", h)
        .orderBy("_h", "_id")
        .limit(k)
        .collect()
    )
    cents: dict[int, list[int]] = {
        i + 1: [int(x) for x in r["_c"]] for i, r in enumerate(seed_rows)
    }
    dim = len(next(iter(cents.values())))
    sizes: dict[int, int] = {c: 0 for c in cents}

    for _ in range(iters):
        scored = []
        for cid in sorted(cents):
            lit = F.array(*[F.lit(v) for v in cents[cid]])
            d2 = F.aggregate(
                F.zip_with(F.col("_c"), lit, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            scored.append(F.struct(d2.alias("d"), F.lit(cid).alias("c")))
        best = F.array_min(F.array(*scored))["c"]
        sums: dict[int, list[int]] = {}
        sizes = {c: 0 for c in cents}
        # single-source dim guard, read at call time so tests can patch it
        if dim <= _sim._KMEANS_COLUMN_AGG_MAX_DIM:
            # Sum the dim components as COLUMNS (the kmeans_centroids
            # r10 shape, guide §2.3): the former posexplode shipped
            # corpus×dim rows into the (cluster, pos) hash aggregate;
            # column sums partial-combine map-side into k rows of dim
            # buffers.  Same int64 sums of the same cells — the cell
            # values are a pure function of the assignment multiset,
            # so the collected grid is bit-identical.
            stats = (
                q.withColumn("_k", best)
                .groupBy("_k")
                .agg(
                    F.count(F.lit(1)).cast("long").alias("_n"),
                    *[
                        F.sum(F.col("_c").getItem(i)).cast("long").alias(f"_s{i}")
                        for i in range(dim)
                    ],
                )
                .collect()
            )
            for r in stats:
                cid = int(r["_k"])
                sums[cid] = [int(r[f"_s{i}"]) for i in range(dim)]
                sizes[cid] = int(r["_n"])
        else:
            # Dim guard (VERDICT r10 item 5): one aggregate expression
            # per dimension explodes the codegen/expression tree at
            # embedding dims in the thousands — past the threshold the
            # posexplode shape stands (shuffle bounded at k·dim cells
            # per map task either way).
            stats = (
                q.withColumn("_k", best)
                .select("_k", F.posexplode("_c").alias("pos", "c"))
                .groupBy("_k", "pos")
                .agg(
                    F.sum("c").cast("long").alias("s"),
                    F.count(F.lit(1)).cast("long").alias("n"),
                )
                .collect()
            )
            for r in stats:
                cid = int(r["_k"])
                sums.setdefault(cid, [0] * dim)[int(r["pos"])] = int(r["s"])
                sizes[cid] = int(r["n"])
        for cid in cents:
            n = sizes.get(cid, 0)
            if n > 0:
                cents[cid] = [_trunc_div(s, n) for s in sums[cid]]
    return spark.createDataFrame(
        [
            (cid, p, cents[cid][p], sizes.get(cid, 0))
            for cid in sorted(cents)
            for p in range(dim)
        ],
        "cent_id long, pos int, mu long, n_members long",
    )


def dbscan_grid(
    pts: DataFrame,
    eps: int,
    min_pts: int,
    id_col: str = "id",
    x_col: str = "x",
    y_col: str = "y",
) -> DataFrame:
    """Exact DBSCAN over integer 2-D points, blocked by an eps-sized
    grid — density clustering with noise, the classic
    (Ester/Kriegel/Sander/Xu 1996) semantics made distributed and
    value-hashable:

    - neighbor pairs: |N_eps(p)| via squared-int64-L2 ≤ eps² (no
      floats, no sqrt),
    - core iff the eps-ball holds ≥ ``min_pts`` points INCLUDING p,
    - clusters = connected components of the core-core adjacency
      (labels are min reachable core id — deterministic),
    - border points take the SMALLEST cluster label among their core
      neighbors (the classic "first come" assignment made
      deterministic), everything else is noise (cluster −1).

    The scale trick is the grid: each point lands in one eps×eps cell
    (portable floor-division, exact for negatives), the probe side is
    replicated to its 3×3 cell neighborhood, and candidates join ON
    CELL EQUALITY — dist ≤ eps forces cell coords to differ by ≤1, so
    the block join is LOSSLESS (the oracle's unblocked all-pairs join
    proves it) while the work is Σ per-cell-neighborhood products,
    never n².  Dense cells skew the join; AQE's skew split handles
    what the eps choice doesn't.

    Returns (id, role ∈ {core, border, noise}, cluster).
    """
    if eps <= 0 or min_pts < 2:
        raise ValueError("dbscan_grid needs eps > 0 and min_pts >= 2")
    e, e2 = int(eps), int(eps) * int(eps)

    def fdiv(c: str):
        # floor division toward -inf (both engines' % keeps the sign
        # of the dividend, so the pmod shift makes DIV a true floor)
        return F.expr(f"CAST(({c} - (({c} % {e} + {e}) % {e})) DIV {e} AS BIGINT)")

    p = pts.select(
        F.col(id_col).alias("id"),
        F.col(x_col).cast("long").alias("x"),
        F.col(y_col).cast("long").alias("y"),
    ).withColumn("cx", fdiv("x")).withColumn("cy", fdiv("y"))

    offs = p.sparkSession.createDataFrame(
        [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)], "dx long, dy long"
    )
    probe = p.crossJoin(F.broadcast(offs)).select(
        F.col("id").alias("ida"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        (F.col("cx") + F.col("dx")).alias("ccx"),
        (F.col("cy") + F.col("dy")).alias("ccy"),
    )
    home = p.select(
        F.col("id").alias("idb"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.col("cx").alias("ccx"),
        F.col("cy").alias("ccy"),
    )
    dx, dy = F.col("xa") - F.col("xb"), F.col("ya") - F.col("yb")
    # each directed pair materializes exactly once: b's home cell is
    # unique and a probes it iff the cells are adjacent
    pairs = (
        probe.join(home, ["ccx", "ccy"])
        .where((F.col("ida") != F.col("idb")) & (dx * dx + dy * dy <= F.lit(e2)))
        .select("ida", "idb")
    ).localCheckpoint(eager=True)  # reused by count, core edges, border

    core = (
        pairs.groupBy("ida")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= F.lit(min_pts - 1))
        .select(F.col("ida").alias("id"))
    )
    from .graph import connected_components

    core_edges = (
        pairs.join(core.withColumnRenamed("id", "ida"), "ida")
        .join(core.withColumnRenamed("id", "idb"), "idb")
        .select("ida", "idb")
    )
    lab = connected_components(core_edges, "ida", "idb")
    core_lab = core.join(lab, core.id == lab.v, "left").select(
        "id", F.coalesce("label", "id").alias("cluster")
    )
    border_lab = (
        pairs.join(core_lab.withColumnRenamed("id", "idb"), "idb")
        .join(core.withColumnRenamed("id", "ida"), "ida", "left_anti")
        .groupBy(F.col("ida").alias("id"))
        .agg(F.min("cluster").alias("cluster"))
    )
    assigned = core_lab.select("id", F.lit("core").alias("role"), "cluster").unionByName(
        border_lab.select("id", F.lit("border").alias("role"), "cluster")
    )
    noise = p.select("id").join(assigned.select("id"), "id", "left_anti").select(
        "id", F.lit("noise").alias("role"), F.lit(-1).cast("long").alias("cluster")
    )
    return assigned.select("id", "role", F.col("cluster").cast("long").alias("cluster")).unionByName(noise)
