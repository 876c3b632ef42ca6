"""Embedding similarity search (approximate-nearest-neighbor surface).

Not in the reference (SURVEY.md §2.2) — LLM-pipeline extension.  Two
paths:

- ``knn_bruteforce`` — exact top-k cosine: broadcast the (small) query
  set against the corpus; the score is a pure Catalyst expression
  (functions/vectors.py), so scoring is a single codegen'd map stage +
  a per-query top-k window.  At 100 TB the broadcast-queries pattern is
  exactly right: corpus stays partitioned, no shuffle until the
  (tiny) per-query top-k aggregation.
- ``knn_ivf`` — IVF-style pruned search: cluster the corpus once by
  nearest centroid (deterministic seed centroids), search only the
  ``n_probes`` closest buckets per query.  Same output schema; recall
  is probabilistic.  This is the scale path when the *query set* is
  also huge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine_similarity, dot, l2_norm

#: Above this vector dimension, `kmeans_centroids` falls back from
#: per-dimension column aggregates (dim expressions in one groupBy) to
#: the posexplode mean — the column form's expression tree grows with
#: dim and overwhelms codegen at embedding dims in the thousands.
_KMEANS_COLUMN_AGG_MAX_DIM = 512

#: Query-row strip width for the blocked-BLAS kernels: bounds every
#: sims allocation to strip×block (≤0.5 GB at the 65536 block-rows
#: cap) while keeping each strip row's FULL sims row (top-k and tie
#: expansion semantics are strip-invariant).  One knob for all four
#: strip loops.
_STRIP_ROWS = 1024


def _unit(vec):
    """Pre-normalize to unit length so pairwise cosine collapses to a
    single dot product (3x fewer array traversals in the O(n^2) stage).

    WARNING — only for tiny frames: the norm sits INSIDE the transform
    lambda, and Catalyst does no CSE in lambda bodies, so it is
    re-evaluated per ELEMENT: O(dim²) per row.  Any corpus-sized frame
    must use ``_unit_frame`` (norm hoisted to its own projection)."""
    n = l2_norm(vec)
    return F.transform(vec, lambda x: x.cast("double") / n)


def _unit_frame(df: DataFrame, vec_col: str, out_col: str, keep: list) -> DataFrame:
    """Unit-normalize ``vec_col`` in TWO projections: the L2 norm is
    computed once per row in its own projection, and the division
    lambda only reads the bound ``_n`` attribute per element — O(dim)
    per row, not the O(dim²) of an inlined norm (no CSE in lambdas)."""
    staged = df.select(*keep, F.col(vec_col).alias("_v"), l2_norm(F.col(vec_col)).alias("_n"))
    return staged.select(
        *keep,
        F.transform(F.col("_v"), lambda x: x.cast("double") / F.col("_n")).alias(out_col),
    )


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (query_id, neighbor_id, rnk) — ids only; raw cosine doubles
    are hash-fragile across engines, ranks are not.  Ties break on
    neighbor id.
    """
    q = _unit_frame(
        queries.select(F.col(id_col).alias("query_id"), vec_col), vec_col, "_qvec", ["query_id"]
    )
    c = _unit_frame(
        corpus.select(F.col(id_col).alias("neighbor_id"), vec_col), vec_col, "_cvec", ["neighbor_id"]
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("_cos", dot(F.col("_qvec"), F.col("_cvec")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.col("rnk").cast("long").alias("rnk"))
    )


def _centroid_literals(centroids: DataFrame, vec_col: str) -> list:
    """Collect the (tiny) centroid frame to (cent_id, literal-array)
    pairs — C·dim scalars, the legitimate small collect of every IVF
    build."""
    return [
        (r["cent_id"], F.array(*[F.lit(float(x)) for x in r[vec_col]]))
        for r in centroids.select("cent_id", vec_col).collect()
    ]


def _scored_array(vec, cents: list) -> F.Column:
    """array<struct(score, negated cent_id)> — array_max picks the best
    score, ties resolving to the SMALLEST centroid id."""
    return F.array(
        *[
            F.struct(dot(vec, lit_vec).alias("s"), F.lit(-cid).alias("nc"))
            for cid, lit_vec in cents
        ]
    )


def _assign_with(corpus: DataFrame, cents: list, vec_col: str) -> DataFrame:
    """Nearest-centroid tag from already-collected centroid literals."""
    best = F.array_max(_scored_array(F.col(vec_col), cents))
    return corpus.withColumn("cent_id", -best["nc"])


def _multi_assign_with(corpus: DataFrame, cents: list, vec_col: str, m: int) -> DataFrame:
    """Top-m centroid tags per corpus vector (one exploded row each) —
    redundant "spill" indexing: a vector sitting near a Voronoi boundary
    is findable from either side, which is where single-assignment IVF
    loses its recall.  Index size scales by m; query cost does not (each
    query still probes n_probes buckets).  m=1 reduces to _assign_with
    plus an explode of a 1-element slice."""
    top = F.slice(
        F.reverse(F.array_sort(_scored_array(F.col(vec_col), cents))),
        1,
        min(m, len(cents)),
    )
    return corpus.withColumn("_bk", F.explode(top)).withColumn(
        "cent_id", -F.col("_bk.nc")
    ).drop("_bk")


def assign_centroids(corpus: DataFrame, centroids: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Tag every corpus vector with its nearest centroid id.

    Centroids become literal arrays inside ONE projection computing the
    argmax of C dot products — a map-only codegen stage with no join and
    no shuffle (the previous crossJoin + per-vector window shuffled n·C
    rows; the corpus never needs to move for an argmax)."""
    return _assign_with(corpus, _centroid_literals(centroids, vec_col), vec_col)


def kmeans_centroids(
    corpus: DataFrame,
    num_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 2,
) -> DataFrame:
    """Deterministic k-means centroids for the IVF build.

    Seeds are HASH-SPREAD: the ``num_centroids`` corpus vectors with the
    smallest ``xxhash64(id)`` — a deterministic uniform draw over the
    corpus, unlike lowest-id seeds, which inherit whatever locality the
    id assignment has (adjacent ids are often near-duplicate documents,
    wasting centroids on one region).  Lloyd refinement then moves the
    seeds to cluster means: each iteration is one broadcast
    assign (O(n·C) dot products, no shuffle of the corpus) + one
    ``posexplode`` mean aggregate whose shuffle carries C·dim cells, not
    the corpus.  Centroids stay tiny (C rows), so the driver round-trip
    per iteration is O(C·dim) — the k-means|| shape: heavy work
    distributed, control flow on scalars.
    """
    seeds = (
        corpus.orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(num_centroids)
        .withColumn("cent_id", F.row_number().over(Window.orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))))
        # Unit-normalize the seeds too (C rows, inline _unit is fine):
        # assignment argmaxes a raw dot product, so an unnormalized seed
        # of norm 2 would swallow its neighborhood regardless of angle.
        .select("cent_id", _unit(F.col(vec_col)).alias(vec_col))
    )
    # dim probed once (1-row read) so the mean can aggregate the dim
    # components as COLUMNS — the former posexplode shipped corpus×dim
    # rows through the shuffle machinery to produce C·dim cells; column
    # aggregates partial-combine map-side into C rows of dim buffers
    # (optimization guide §2.3: aggregate before you shuffle).
    # CONTRACT: every corpus vector has the probed row's dimension (all
    # engine corpora are fixed-dim); an empty corpus yields the empty
    # seed frame instead of a probe TypeError (ADVICE r10).
    probe = corpus.select(vec_col).first()
    if probe is None:
        return seeds
    dim = len(probe[0])
    centroids = seeds
    for _ in range(iterations):
        assigned = assign_centroids(corpus, centroids, vec_col)
        unit = _unit_frame(assigned, vec_col, "_u", ["cent_id"])
        # Mean via EXACT decimal sum, not F.avg(double): double
        # addition is order-sensitive, and a shuffled aggregate sums
        # in nondeterministic order — avg could differ bitwise across
        # runs and flip near-tie assignments.  decimal(38,18) holds
        # unit components exactly to 1e-18 with 20 integer digits of
        # headroom (no overflow until ~1e20 members), so the sum is a
        # pure function of the multiset.  Same expression per
        # component as the per-(cent_id, pos) aggregate below —
        # values bit-identical, only the shuffle shape changed.
        if dim <= _KMEANS_COLUMN_AGG_MAX_DIM:
            sums = unit.groupBy("cent_id").agg(
                F.count(F.lit(1)).alias("_n"),
                *[
                    F.sum(F.col("_u").getItem(i).cast("decimal(38,18)")).alias(f"_s{i}")
                    for i in range(dim)
                ],
            )
            means = sums.select(
                "cent_id",
                F.array(
                    *[
                        (F.col(f"_s{i}") / F.col("_n")).cast("double")
                        for i in range(dim)
                    ]
                ).alias(vec_col),
            )
        else:
            # Dim guard (VERDICT r10 item 5): the column form builds one
            # aggregate expression per dimension — fine at 64, an
            # expression-tree/codegen explosion at embedding dims in the
            # thousands.  Past the threshold, fall back to the
            # posexplode shape: shuffle carries corpus×dim cells but the
            # plan stays O(1) expressions.  Identical arithmetic per
            # component (same decimal sum / count) on fixed-dim input.
            means = (
                unit.select("cent_id", F.posexplode(F.col("_u")).alias("pos", "x"))
                .groupBy("cent_id", "pos")
                .agg(
                    (F.sum(F.col("x").cast("decimal(38,18)")) / F.count(F.lit(1)))
                    .cast("double")
                    .alias("m")
                )
                .groupBy("cent_id")
                .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
                .select("cent_id", F.transform("pm", lambda s: s["m"]).alias(vec_col))
            )
        # Unit-normalize the mean so assignment's dot product ranks by
        # true cosine (spherical k-means); seeds with an empty cluster
        # drop out, ids stay stable otherwise.
        means = means.select("cent_id", _unit(F.col(vec_col)).alias(vec_col))
        # EAGER barrier on the C-row centroid frame: left lazy, every
        # later collect (next iteration's assignment literals, the
        # caller's final literal collect) re-runs THIS iteration's
        # corpus aggregate from scratch — O(iterations²) corpus passes
        # for a frame of C rows (measured: the sf10 IVF build spent
        # 35 s re-deriving 16 rows).  The checkpoint pins each Lloyd
        # step to exactly one corpus pass; values are bit-identical
        # (same plan, materialized once).
        centroids = means.localCheckpoint(eager=True)
    return centroids


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 16,
    n_probes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iterations: int = 2,
    n_assign: int = 1,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-pruned approximate top-k cosine.

    Centroids come from ``kmeans_centroids`` (hash-spread seeds + Lloyd
    refinement, deterministic).  Each query scores only vectors whose
    centroid is among its ``n_probes`` nearest centroids — at 1000
    partitions this skips (1 - n_probes/C) of the corpus scan.

    ``n_assign`` > 1 indexes each corpus vector under its top-n_assign
    centroids (redundant "spill" assignment): index size scales by
    n_assign, query-time probes don't, and recall on structureless data
    improves sharply because boundary vectors become reachable from both
    sides.  Measured on the driver's 64-d uniform-random embeddings
    (k=5, C=16, vs ``knn_bruteforce`` ground truth — the worst case for
    cell-probe methods, no cluster structure):

        n_assign=1: probes 2/4/6/8 → recall 0.41/0.61/0.74/0.80
        n_assign=2: probes 4/6/8   → recall ≥0.9 band (see
                    tests/test_dedup_similarity.py::test_knn_ivf_recall)

    On clustered corpora (the common case) recall at fixed probes is
    substantially higher; tune with ``n_probes`` (query cost) before
    ``n_assign`` (index cost).
    """
    if centroids is None:
        centroids = kmeans_centroids(
            corpus, num_centroids, id_col, vec_col, iterations=kmeans_iterations
        )
    # else: a persisted index (save_ann_index/load_ann_index) — the
    # build-once probe-many path; num_centroids/kmeans_iterations are
    # ignored, the index defines the partitioning.
    # Collect the (lazy) centroid frame ONCE; assign and probes share
    # the literals instead of each re-running the final Lloyd aggregate.
    cents = _centroid_literals(centroids, vec_col)
    if n_assign > 1:
        tagged = _multi_assign_with(corpus, cents, vec_col, n_assign)
    else:
        tagged = _assign_with(corpus, cents, vec_col)
    q_probe = _probes_with(queries, cents, n_probes, id_col, vec_col)
    joined = tagged.join(q_probe, "cent_id").where(F.col(id_col) != F.col("query_id"))
    if n_assign > 1:
        # A (query, vector) pair can meet in several shared buckets;
        # keep one copy before ranking (same key as the rank window, so
        # AQE folds this into the existing query_id exchange).
        joined = joined.dropDuplicates(["query_id", id_col])
    scored = joined.withColumn("_cos", cosine_similarity(F.col("_qvec"), F.col(vec_col)))
    w = Window.partitionBy("query_id").orderBy(F.col("_cos").desc(), F.col(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), F.col("rnk").cast("long").alias("rnk"))
    )


def _probes_with(
    queries: DataFrame, cents: list, n_probes: int, id_col: str, vec_col: str
) -> DataFrame:
    """(query_id, _qvec, cent_id) for each query's n_probes nearest
    centroids from already-collected literals: sort the score array
    descending, slice the top n_probes, explode — a map-only stage."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec"))
    top = F.slice(
        F.reverse(F.array_sort(_scored_array(F.col("_qvec"), cents))),
        1,
        min(n_probes, len(cents)),
    )
    return q.select(
        "query_id", "_qvec", F.explode(top).alias("_bk")
    ).select("query_id", "_qvec", (-F.col("_bk.nc")).alias("cent_id"))


def assign_probes(
    queries: DataFrame, centroids: DataFrame, n_probes: int, id_col: str, vec_col: str
) -> DataFrame:
    """Probe assignment from a centroid DataFrame (collects it first)."""
    return _probes_with(queries, _centroid_literals(centroids, vec_col), n_probes, id_col, vec_col)


def cosine_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (id_a < id_b).

    Brute-force O(n²/2) scoring — the exact baseline the LSH variant is
    judged against.  The cross join is self-broadcast so the corpus
    streams once per executor; at real corpus sizes use
    ``cosine_near_dup_lsh``.
    """
    a = _unit_frame(
        corpus.select(F.col(id_col).alias("id_a"), vec_col), vec_col, "_va", ["id_a"]
    )
    b = _unit_frame(
        corpus.select(F.col(id_col).alias("id_b"), vec_col), vec_col, "_vb", ["id_b"]
    )
    return (
        a.crossJoin(F.broadcast(b))
        .where(F.col("id_a") < F.col("id_b"))
        .where(dot(F.col("_va"), F.col("_vb")) >= threshold)
        .select("id_a", "id_b")
    )


_M64 = (1 << 64) - 1


def _plane_sign(i: int, j: int) -> float:
    """Deterministic ±1 hyperplane entry for (plane i, dim j) via a
    splitmix64 finalizer.  The mix must be NONLINEAR over GF(2): a
    CRC32-parity construction (the original implementation) is
    XOR-linear in the input bits, so sign(i, j) factorizes as
    s_i·t_j — every "random" plane is the SAME direction up to global
    sign, the signature space collapses to 2 values, and the banded
    LSH silently degenerates to a 2-bucket all-pairs verify
    (quadratic; observed as 8 total buckets over 20k vectors before
    the fix).  splitmix64's xorshift-multiply chain has no such
    factorization; the planes behave like independent Rademacher
    draws."""
    x = ((i << 32) | j) & _M64
    x = (x + 0x9E3779B97F4A7C15) & _M64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _M64
    return 1.0 if (x ^ (x >> 31)) & 1 else -1.0


def cosine_near_dup_lsh(
    corpus: DataFrame,
    threshold: float = 0.45,
    num_planes: int = 16,
    max_hamming: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane (SimHash-for-vectors) blocked near-dup search.

    Signature bit i = sign(<v, h_i>) with h_i a deterministic ±1
    hyperplane from the splitmix64 family (`_plane_sign` — see its
    linearity hazard note) — no randomness, no Python.
    Candidate pairs share a signature BAND (signature split into
    ``max_hamming+1`` bands: any pair within Hamming distance
    ``max_hamming`` shares at least one exact band — pigeonhole), then
    exact cosine verifies.  Probabilistic recall, exact precision.
    """
    dim = len(corpus.select(vec_col).first()[0])
    # ±1 hyperplanes as literal arrays: deterministic from (plane, dim).
    planes = [[_plane_sign(i, j) for j in range(dim)] for i in range(num_planes)]

    def signature(vec):
        bits = [
            F.when(
                F.aggregate(
                    F.zip_with(
                        vec,
                        F.array(*[F.lit(x) for x in planes[i]]),
                        lambda a, b: a.cast("double") * b,
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                > 0,
                F.lit(1),
            ).otherwise(F.lit(0))
            for i in range(num_planes)
        ]
        sig = None
        for i, b in enumerate(bits):
            term = b.cast("long") * F.lit(1 << i).cast("long")
            sig = term if sig is None else sig + term
        return sig

    bands = max_hamming + 1
    per_band = num_planes // bands
    mask = (1 << per_band) - 1
    sigs = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), signature(F.col(vec_col)).alias("sig")
    )
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("sig"), b * per_band).bitwiseAND(F.lit(mask)).alias("bh"),
            )
            for b in range(bands)
        ]
    )
    buckets = sigs.select("id", "v", F.explode(band_arr).alias("bk")).select(
        "id", "v", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh")
    )
    l, r = buckets.alias("l"), buckets.alias("r")
    cand = (
        l.join(r, (F.col("l.band") == F.col("r.band")) & (F.col("l.bh") == F.col("r.bh"))
               & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"),
                F.col("l.v").alias("_va"), F.col("r.v").alias("_vb"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.where(cosine_similarity(F.col("_va"), F.col("_vb")) >= threshold)
        .select("id_a", "id_b")
    )


def cosine_near_dup_lsh_blas(
    corpus: DataFrame,
    threshold: float = 0.45,
    num_planes: int = 32,
    max_hamming: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hyperplane-LSH near-dup pairs with a BLAS bucket verify — the
    100 TB production shape for semantic dedup.

    `cosine_near_dup_lsh` verifies each candidate pair with an
    interpreted per-pair cosine; with 16 planes its 4-bit bands hold
    only 16 buckets, so bucket population — and the candidate count —
    grows quadratically with the corpus (measured: minutes at 50k
    vectors).  This variant (a) widens to ``num_planes`` bits so each
    of the ``max_hamming+1`` bands is an 8-bit/256-bucket key at the
    default, (b) computes ALL signatures with one N×d @ d×planes BLAS
    matmul per Arrow batch (the interpreted zip_with signature costs
    ~300 µs/row — it, not the verify, dominated at 50k vectors), and
    (c) verifies each (band, bucket) GROUP with one numpy matmul
    inside ``applyInPandas`` — per-pair cost is a BLAS flop, not an
    interpreted expression tree.  Same recall contract as the
    narrow variant (any pair within Hamming ``max_hamming`` shares ≥1
    exact band — pigeonhole), exact precision (cosine verified).

    Skew note: a bucket's work is |bucket|² flops; at extreme
    signature skew raise ``num_planes`` (more, smaller buckets) — the
    band key count scales 2^(planes/bands) while signatures stay one
    map-only pass.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import LongType, StructField, StructType

    first = corpus.select(vec_col).first()
    if first is None:
        return corpus.sparkSession.createDataFrame([], "id_a long, id_b long")
    dim = len(first[0])
    plane_mat = np.array(
        [[_plane_sign(i, j) for j in range(dim)] for i in range(num_planes)]
    )  # planes × dim
    weights = 1 << np.arange(num_planes, dtype=np.uint64)

    def _sig(vs):  # pd.Series -> pd.Series (hints omitted: pandas is
        # imported locally, so PySpark's hint-based eval-type inference
        # can't resolve them; the explicit returnType pins SCALAR)
        if not len(vs):
            return pd.Series([], dtype="int64")
        mat = np.array(list(vs), dtype=np.float64)
        bits = (mat @ plane_mat.T) > 0
        return pd.Series((bits.astype(np.uint64) * weights).sum(axis=1).astype("int64"))

    sig_udf = F.pandas_udf(_sig, LongType())

    bands = max_hamming + 1
    per_band = num_planes // bands
    mask = (1 << per_band) - 1
    sigs = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        sig_udf(F.col(vec_col)).alias("sig"),
    )
    band_arr = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col("sig"), b * per_band)
                .bitwiseAND(F.lit(mask))
                .alias("bh"),
            )
            for b in range(bands)
        ]
    )
    buckets = sigs.select("id", "v", F.explode(band_arr).alias("bk")).select(
        "id", "v", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh")
    )

    schema = StructType(
        [StructField("id_a", LongType(), False), StructField("id_b", LongType(), False)]
    )

    def verify(key, pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        ids = pdf["id"].to_numpy()
        mat = np.array(list(pdf["v"]), dtype=np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        sims = mat @ mat.T
        ii, jj = np.nonzero(sims >= threshold)
        a, b = ids[ii], ids[jj]
        keep = a < b
        return pd.DataFrame({"id_a": a[keep], "id_b": b[keep]})

    return (
        buckets.groupBy("band", "bh")
        .applyInPandas(verify, schema=schema)
        .dropDuplicates(["id_a", "id_b"])
    )


def _blocked_pairs(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    block_rows: int,
    kernel,
    schema,
    both_ways: bool,
) -> DataFrame:
    """The exact all-pairs skeleton of `cosine_near_dup_pairs_numpy` and
    `knn_self_blas`: every pair of unit rows of ``corpus`` is scored as a
    BLAS ``q @ rᵀ`` strip, and ``kernel(qids, rids, sims, same)`` turns
    each strip into a pandas frame of ``schema``.  ``same`` says the
    strip's rows are among its columns too (a row can meet itself);
    cross-block strips run left block against right block, and also
    right against left with ``both_ways``.

    Zero-norm vectors have no defined cosine and are dropped here, from
    both roles.  A strip is ≤ ``_STRIP_ROWS`` query rows, each with its
    FULL row of columns, so no kernel output depends on the strip size.

    One block (n ≤ ``block_rows``): collect the corpus (bounded by
    block_rows), broadcast it and score every scan batch against it —
    no shuffle.

    More blocks: the ids are split into B = ⌈n / block_rows⌉ ranges by
    the range pass's exact-count histogram borders
    (`scale._deterministic_borders`), and `scale._pid_expr` routes each
    row to its block.  A block over the ×4 slack (duplicate-heavy ids)
    re-borders globally with more blocks (≤2 retries); the check reads
    the borders' own per-range counts, so it launches no job.  Each row
    then joins the B block-pairs it belongs to, (min(b,k), max(b,k))
    for every k, and one ``applyInPandas`` per pair scores block i
    against block j on the executors.  Blocks are ordered and disjoint
    id ranges, so two rows meet in exactly one group, and in a
    cross-block group every left id is below every right id.  The
    shuffle is n·B rows (the inherent O(n²/block_rows) data motion of an
    exact all-pairs baseline), a task holds ~2 blocks of vectors and
    the driver holds none.
    """
    import math

    import numpy as np
    import pandas as pd

    from .scale import _deterministic_borders, _pid_expr

    def unit(ids, vecs):
        """The nonzero rows unit-normalized, their ids, and the mask of
        the rows kept."""
        mat = np.array(list(vecs), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1)
        keep = norms > 0
        return ids[keep], mat[keep] / norms[keep, None], keep

    def scored(qids, q, rids, r, same):
        # strips of query rows bound each sims allocation to strip×block
        # (≤0.5 GB at the 65k block cap; a whole block would be 34 GB)
        for s0 in range(0, len(q), _STRIP_ROWS):
            strip = slice(s0, s0 + _STRIP_ROWS)
            yield kernel(qids[strip], rids, q[strip] @ r.T, same)

    slim = corpus.select(id_col, vec_col)
    n = slim.count()
    if n == 0:
        return slim.sparkSession.createDataFrame([], schema)
    num_blocks = math.ceil(n / block_rows)
    if num_blocks == 1:
        sc = slim.sparkSession.sparkContext
        rows = slim.collect()
        ids, mat, _ = unit(np.array([r[0] for r in rows], dtype=np.int64), [r[1] for r in rows])
        order = np.argsort(ids)
        b_ids, b_mat = sc.broadcast(ids[order]), sc.broadcast(mat[order])

        def score(batches):
            for pdf in batches:
                if len(pdf):
                    qids, q, _ = unit(pdf[id_col].to_numpy(), pdf[vec_col])
                    yield from scored(qids, q, b_ids.value, b_mat.value, True)

        # The scan side's partition count IS the parallelism of this
        # path (one broadcast-scored batch stream per partition); a
        # 2-file parquet table would otherwise score the whole O(n²)
        # kernel on 2 cores (measured 44 s -> ~4 s at 20k vectors).
        par = max(1, min(sc.defaultParallelism, math.ceil(n / 256)))
        return slim.repartition(par).mapInPandas(score, schema=schema)

    borders = _deterministic_borders(slim, id_col, num_blocks)
    for _retry in range(2):
        if (max(borders.counts) if borders else n) <= 4 * block_rows:
            break
        num_blocks = max(num_blocks + 1, math.ceil(n / block_rows * 2))
        borders = _deterministic_borders(slim, id_col, num_blocks)
    nb = len(borders) + 1  # actual block count after any retry

    # Each row joins every block-pair it belongs to: (min(b,k), max(b,k))
    # for k in [0, nb) — nb distinct structs per row, so group (i, j)
    # receives block i's and block j's rows exactly once each.
    pair_structs = F.transform(
        F.sequence(F.lit(0), F.lit(nb - 1)),
        lambda k: F.struct(
            F.least(F.col("_blk"), k).alias("pi"),
            F.greatest(F.col("_blk"), k).alias("pj"),
        ),
    )
    exploded = slim.select(
        id_col, vec_col, _pid_expr(id_col, borders).alias("_blk")
    ).select(
        id_col, vec_col, "_blk", F.explode(pair_structs).alias("_p")
    ).select(id_col, vec_col, "_blk", F.col("_p.pi").alias("_pi"), F.col("_p.pj").alias("_pj"))

    def score_pair(key, pdf):
        ids, mat, keep = unit(pdf[id_col].to_numpy(), pdf[vec_col])
        if key[0] == key[1]:
            parts = list(scored(ids, mat, ids, mat, True))
        else:
            left = (pdf["_blk"].to_numpy() == key[0])[keep]
            parts = list(scored(ids[left], mat[left], ids[~left], mat[~left], False))
            if both_ways:
                parts += scored(ids[~left], mat[~left], ids[left], mat[left], False)
        # a kernel over no rows gives the empty frame with its dtypes
        parts = parts or [kernel(ids[:0], ids[:0], np.zeros((0, 0)), False)]
        return pd.concat(parts, ignore_index=True)

    return exploded.groupBy("_pi", "_pj").applyInPandas(score_pair, schema=schema)


def cosine_near_dup_pairs_numpy(
    corpus: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 65536,
) -> DataFrame:
    """Exact near-dup pairs (id_a < id_b, cosine ≥ ``threshold``) with
    the O(n²) scoring done as BLAS matmul.

    Catalyst higher-order functions evaluate lambdas interpreted and
    allocate per-pair arrays — measured ~10s for 2M pairs; one
    numpy ``batch @ matrixᵀ`` does the same work in milliseconds.  This
    is the justified Pandas/Arrow drop-down: dense linear algebra is the
    one thing the built-in expression engine can't express efficiently.

    The pairing runs on `_blocked_pairs`: one broadcast kernel when the
    corpus fits one block (sf0.1's 2k vectors do), else B =
    ``ceil(n / block_rows)`` id-range blocks from the exact-count
    histogram borders, scored block against block on the executors.
    A pair lives in exactly one block-pair group and is scored one way
    only, so every pair is emitted exactly once.  ``cosine_near_dup_lsh``
    remains the sub-quadratic path when recall < 1 is acceptable.
    Zero-norm vectors pair with nothing.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType(
        [StructField("id_a", LongType(), False), StructField("id_b", LongType(), False)]
    )

    def pairs(qids, rids, sims, same):
        ii, jj = np.nonzero(sims >= threshold)
        a, b = qids[ii], rids[jj]
        if same:  # each unordered pair once, as a < b
            keep = a < b
            a, b = a[keep], b[keep]
        return pd.DataFrame({"id_a": a, "id_b": b})

    return _blocked_pairs(corpus, id_col, vec_col, block_rows, pairs, schema, both_ways=False)


def save_ann_index(centroids: DataFrame, path: str) -> None:
    """Persist an IVF centroid table (the BUILD artifact): train once,
    probe from every later session.  At 100 TB the k-means build reads
    the full corpus; queries should never pay that again — the index is
    C rows of (cent_id, unit vector), parquet-small."""
    centroids.write.mode("overwrite").parquet(path)


def load_ann_index(spark, path: str) -> DataFrame:
    """Load a persisted centroid table for `assign_centroids` /
    `knn_ivf(..., centroids=...)`-style probing."""
    return spark.read.parquet(path)


def save_knn_graph(edges: DataFrame, path: str) -> None:
    """Persist a kNN edge list (query_id, neighbor_id, rnk) — the
    BUILD artifact of `knn_self_blas`.  At 100 TB the blocked-BLAS
    build is the corpus-quadratic step; every consumer after it
    (label propagation, graph diagnostics, CF features) is linear in
    the k·n edge list, so the graph is built once and probed from
    parquet by every later job/session — the same build/probe split as
    the MinHash band index (`operators/dedup.py`) and `save_ann_index`
    above.  Int64 columns round-trip parquet bit-exact, so a reloaded
    graph is multiset-identical to the built one (pinned by the
    `knn_graph_persistence_audit` driver face)."""
    edges.write.mode("overwrite").parquet(path)


def load_knn_graph(spark, path: str) -> DataFrame:
    """Load a persisted kNN edge list written by `save_knn_graph`."""
    return spark.read.parquet(path)


def _artifact_cache_dir(cache_dir: str | None) -> str:
    """Default artifact location: $SPARK_GRAFT_KNN_CACHE or
    ``.knn_graph_cache/`` beside the repo.  On a cluster point the env
    var at shared storage (hdfs://, s3a://) so every session probes
    one build."""
    import os

    if cache_dir is not None:
        return cache_dir
    return os.environ.get("SPARK_GRAFT_KNN_CACHE") or os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".knn_graph_cache",
    )


def _corpus_fingerprint(corpus: DataFrame, id_col: str, content_col: str) -> str:
    """Content key for corpus artifacts: one narrow aggregate over
    (row count, Σ xxhash64(id, content)) — the per-row hash BINDS each
    id to its full content (vector array or text), so ids changing,
    ANY component/character of the content changing, or content being
    permuted across ids all miss the cache and rebuild.  The sum
    accumulates in DECIMAL(38,0) (an int64 sum of 2⁶⁴-range hashes
    wraps/NULLs).  Hashing only a slice of the content (the round-9
    first-component draft) is not enough: a corpus re-trained in later
    dimensions would silently serve a stale artifact."""
    fp = corpus.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.xxhash64(F.col(id_col), F.col(content_col)).cast("decimal(38,0)")
        ).alias("h"),
    ).collect()[0]
    return f"n{fp['n']}_h{fp['h']}"


def _artifact_exists(spark, marker: str) -> bool:
    import os

    try:
        # Hadoop FileSystem check: honors whatever scheme the cache dir
        # carries (hdfs://, s3a://, file:) — a bare os.path.exists
        # would silently always-miss on shared cluster storage.
        jpath = spark._jvm.org.apache.hadoop.fs.Path(marker)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return fs.exists(jpath)
    except Exception:
        return os.path.exists(marker)


def _builder_version(*fns) -> str:
    """8-hex token derived from the SOURCE of the builder functions (or
    whole modules), salted into every artifact cache key, so a kernel
    change automatically invalidates artifacts persisted by older code.
    Without it the cache is content-keyed only and persists across
    commits — after a builder change the oracle sweep and bench would
    cache-HIT and validate/serve the stale pre-change output, letting a
    kernel regression pass from leftover disk state.  Comment-only edits
    also rebuild; a spurious rebuild costs seconds, a stale artifact is
    a silent wrong answer."""
    import hashlib
    import inspect

    h = hashlib.sha256()
    for fn in fns:
        h.update(inspect.getsource(fn).encode())
    return h.hexdigest()[:8]


def _hadoop_fs(spark, path_str: str):
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path_str)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _commit_artifact(df: DataFrame, path: str) -> None:
    """Atomically publish ``df`` as a parquet artifact at ``path``:
    write to a unique sibling temp dir, then rename into the keyed
    location.  Two concurrent cache-missing sessions may both build,
    but only ONE rename lands; the loser deletes its temp output and
    every consumer probes the winner's committed artifact.  A direct
    ``mode('overwrite')`` to the final path (the pre-r10 scheme) could
    interleave committer temp dirs between two writers or delete a
    committed artifact out from under a concurrent reader — the
    ``_SUCCESS`` gate protects against a partial single write, not
    concurrent overwrites."""
    import os
    import shutil
    import uuid

    spark = df.sparkSession
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:12]}"
    df.write.mode("overwrite").parquet(tmp)
    try:
        fs, jdst = _hadoop_fs(spark, path)
        jtmp = spark._jvm.org.apache.hadoop.fs.Path(tmp)
        committed = False
        if not fs.exists(jdst):
            committed = bool(fs.rename(jtmp, jdst))
        if not committed:
            fs.delete(jtmp, True)  # another writer won: serve theirs
        else:
            # HDFS rename moves src INTO dst when dst is an existing
            # directory; if a concurrent winner landed between the
            # exists check and our rename, the temp dir becomes a stray
            # child of the committed artifact — remove it so the
            # parquet scan never sees a nested directory.
            stray = spark._jvm.org.apache.hadoop.fs.Path(
                path + "/" + os.path.basename(tmp)
            )
            if fs.exists(stray):
                fs.delete(stray, True)
    except Exception:
        # No py4j surface (Spark Connect-style deploys): best-effort
        # local-filesystem equivalent of the same protocol.
        if os.path.isdir(tmp):
            if os.path.exists(path):
                shutil.rmtree(tmp, ignore_errors=True)
            else:
                shutil.move(tmp, path)


#: Committed artifacts kept per family (key prefix before the content
#: fingerprint) — the newest N corpus snapshots; older ones are GC'd
#: after each successful build.
_ARTIFACT_GC_KEEP = 4

#: Abandoned temp dirs older than this are swept (a live concurrent
#: build is younger than its own write job).
_ARTIFACT_TMP_TTL_MS = 6 * 3600 * 1000


def _gc_artifact_family(spark, cache_dir: str, family_prefix: str, keep: int) -> None:
    """Bound the artifact cache: within one family (all keys sharing
    ``family_prefix`` — k/threshold params plus builder version vary
    inside it), keep the ``keep`` most-recently-modified COMMITTED
    artifacts and delete the rest; also sweep abandoned ``.tmp-`` dirs
    past their TTL.  Fingerprint-keyed entries otherwise accumulate
    forever across corpus snapshots (and across builder versions, now
    that the key carries one).  Best-effort: a GC failure never fails
    the build that triggered it."""
    import time

    try:
        fs, jdir = _hadoop_fs(spark, cache_dir)
        if not fs.exists(jdir):
            return
        committed = []
        for st in fs.listStatus(jdir):
            if not st.isDirectory():
                continue
            name = st.getPath().getName()
            if ".tmp-" in name:
                if time.time() * 1000 - st.getModificationTime() > _ARTIFACT_TMP_TTL_MS:
                    fs.delete(st.getPath(), True)
                continue
            if name.startswith(family_prefix):
                committed.append((st.getModificationTime(), name, st.getPath()))
        committed.sort(reverse=True)
        for _, _, p in committed[keep:]:
            fs.delete(p, True)
    except Exception:
        pass


def knn_graph_artifact(
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_dir: str | None = None,
) -> DataFrame:
    """Build-once/probe-many exact self-kNN graph: returns the
    `knn_self_blas` edge list for ``corpus``, served from a persisted
    parquet artifact when one matching the corpus already exists.

    The cache key is a content FINGERPRINT, not a path: one narrow
    aggregate scan computes (row count, Σ xxhash64(id, vector)) and
    the artifact directory is keyed by ``k«k»_«fingerprint»`` — a
    corpus whose ids OR any vector component changes (including
    vectors permuted across ids) misses the cache and rebuilds, while
    re-running the same face/session/round on unchanged data probes
    the existing graph instead of re-paying the quadratic BLAS build.
    A Spark ``_SUCCESS`` marker gates reuse so a partial write is
    never served.

    The key also carries a BUILDER-VERSION token (hash of the
    `knn_self_blas` and `_blocked_pairs` sources and of the whole
    `scale` module, whose border helpers they call) so a kernel change
    invalidates artifacts persisted by older code, and a cache-miss
    build commits via write-temp-then-rename so concurrent sessions can
    never interleave or clobber a committed artifact
    (`_commit_artifact`).  After a
    successful build the family is GC'd to the newest
    ``_ARTIFACT_GC_KEEP`` corpus snapshots.

    DETERMINISTIC-INPUT CONTRACT: the fingerprint job and the build job
    are two independent executions of the ``corpus`` plan — feed a
    deterministic frame (same contract as `persist_scoped`).  A
    nondeterministic input (unordered `.limit`, unseeded sample) can
    persist an artifact that does not correspond to its key.

    ``cache_dir`` defaults to ``$SPARK_GRAFT_KNN_CACHE`` or
    ``.knn_graph_cache/`` beside the repo (on a cluster point it at
    shared storage — HDFS/S3 — so every session probes one build).
    Calling this is EAGER on a cache miss (runs the build + a write
    job); the returned frame is always a plain parquet scan."""
    import os

    from . import scale

    spark = corpus.sparkSession
    family = f"k{k}_"
    # Version covers the kernel, its block-pair skeleton AND the module
    # that borders and routes its blocks — a change to any one rebuilds.
    version = _builder_version(knn_self_blas, _blocked_pairs, scale)
    key = (
        f"{family}v{version}"
        f"_{_corpus_fingerprint(corpus, id_col, vec_col)}"
    )
    root = _artifact_cache_dir(cache_dir)
    path = os.path.join(root, key)
    if not _artifact_exists(spark, os.path.join(path, "_SUCCESS")):
        _commit_artifact(
            knn_self_blas(corpus, k=k, id_col=id_col, vec_col=vec_col), path
        )
        _gc_artifact_family(spark, root, family, keep=_ARTIFACT_GC_KEEP)
    return load_knn_graph(spark, path)


def near_dup_pairs_artifact(
    corpus: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache_dir: str | None = None,
) -> DataFrame:
    """Build-once/probe-many exact cosine near-dup PAIR list: the
    `cosine_near_dup_pairs_numpy` output served from a persisted
    parquet artifact, keyed by corpus content fingerprint + the
    integer-milli threshold (same contract as `knn_graph_artifact`).

    Four pipeline faces consume the identical (corpus, 0.45) pair
    list — the semantic dedup manifest, both curation capstones, and
    the dedup provenance trail — and each was re-paying the blocked
    O(n²/block) BLAS build.  At 100 TB the pair list is THE shared
    intermediate of a curation release (manifest-sized: qualifying
    pairs only), so it is built once per corpus snapshot and probed
    by every downstream job.  Two int64 columns round-trip parquet
    bit-exact; `cosine_near_dup_pairs` (the driver anchor face) keeps
    building directly so the kernel itself stays benchmarked.

    Same key/commit/GC discipline as `knn_graph_artifact`: the key
    carries a builder-version token, misses commit atomically via
    `_commit_artifact`, the family keeps its newest
    ``_ARTIFACT_GC_KEEP`` snapshots, and the input must be
    deterministic (the fingerprint and build are independent jobs)."""
    import os

    from . import scale

    spark = corpus.sparkSession
    t_milli = int(round(threshold * 1000))
    family = f"ndp{t_milli}_"
    version = _builder_version(cosine_near_dup_pairs_numpy, _blocked_pairs, scale)
    key = (
        f"{family}v{version}"
        f"_{_corpus_fingerprint(corpus, id_col, vec_col)}"
    )
    root = _artifact_cache_dir(cache_dir)
    path = os.path.join(root, key)
    if not _artifact_exists(spark, os.path.join(path, "_SUCCESS")):
        _commit_artifact(
            cosine_near_dup_pairs_numpy(
                corpus, threshold=threshold, id_col=id_col, vec_col=vec_col
            ),
            path,
        )
        _gc_artifact_family(spark, root, family, keep=_ARTIFACT_GC_KEEP)
    return spark.read.parquet(path)


def hard_negative_pairs(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining: for each anchor, its top-k nearest-cosine
    neighbors with a DIFFERENT label — the contrastive-training pairs
    most likely to be informative (near in embedding space, apart in
    label space).

    Output (anchor_id, negative_id, anchor_label, negative_label, rnk)
    — ids and integer ranks only; raw cosine doubles are hash-fragile
    across engines, ranks are not (ties break on neighbor id).

    Same topology as `knn_bruteforce`: the anchor set broadcasts (it is
    the small side by construction — a probe sample or a label slice),
    the corpus streams map-only through one dot product per (row,
    anchor), and the top-k window partitions per anchor.  For
    corpus×corpus mining at scale, feed anchors in slices or use the
    IVF route (`knn_ivf`) with a post-filter on label."""
    a = _unit_frame(
        anchors.select(
            F.col(id_col).alias("anchor_id"),
            F.col(label_col).alias("anchor_label"),
            vec_col,
        ),
        vec_col, "_avec", ["anchor_id", "anchor_label"],
    )
    c = _unit_frame(
        corpus.select(
            F.col(id_col).alias("negative_id"),
            F.col(label_col).alias("negative_label"),
            vec_col,
        ),
        vec_col, "_cvec", ["negative_id", "negative_label"],
    )
    scored = (
        c.crossJoin(F.broadcast(a))
        .where(F.col("negative_label") != F.col("anchor_label"))
        .withColumn("_cos", dot(F.col("_avec"), F.col("_cvec")))
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("_cos").desc(), F.col("negative_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            "anchor_id", "negative_id",
            F.col("anchor_label").cast("long").alias("anchor_label"),
            F.col("negative_label").cast("long").alias("negative_label"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


def knn_self_blas(
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 65536,
    tie_slack: int = 32,
) -> DataFrame:
    """Exact all-vectors top-k cosine neighbors (self-kNN, self
    excluded) with the scoring done as blocked BLAS matmuls — the
    graph-construction companion to `knn_bruteforce` (which broadcasts
    a SMALL query set; here every vector is a query, so the
    interpreted per-pair dot would cost ~10 s per 2M pairs while one
    block matmul does it in milliseconds).

    Same `_blocked_pairs` skeleton as `cosine_near_dup_pairs_numpy`:
    one broadcast kernel, or id-range blocks from the exact-count
    histogram borders with one ``applyInPandas`` matmul per block-pair.
    Each strip emits every query row's top-(k+tie_slack) candidates
    (both directions off-diagonal, self-masked on the diagonal); a
    final per-query window over the ≤B·(k+slack) candidates picks the
    exact global top-k with ties on neighbor id.  Exact-tie families at
    a block's k-boundary (identical vectors — e.g. duplicated corpora —
    tie bit-for-bit) are EXPANDED: the whole family at the boundary sim
    is emitted so the global id-tiebreak stays exact, bounded by a
    ``max(16·(k+slack), 1024)`` expansion cap that raises only on
    near-degenerate corpora (a family that size would re-quadratize
    the plan — dedup the corpus first).  Zero-norm vectors have no defined cosine
    and are dropped from both roles (``knn_bruteforce`` would surface
    them as NaN rank-1 neighbors — a gotcha, not a contract).

    Returns (query_id, neighbor_id, rnk), rnk 1-based.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    kk = k + tie_slack
    schema = StructType(
        [
            StructField("query_id", LongType(), False),
            StructField("neighbor_id", LongType(), False),
            StructField("_sim", DoubleType(), False),
        ]
    )

    def edges(q, nb, s):
        return pd.DataFrame({"query_id": q, "neighbor_id": nb, "_sim": s})

    def topk_rows(qids, nids, sims, same):
        """Per left-row top-kk of sims (rows=qids, cols=nids), emitted
        as a long frame sorted deterministically (sim desc, nid asc).
        Fully vectorized (argsort + axis-wise lexsort); only rows whose
        boundary tie family crosses the cut fall back to per-row
        expansion — a ~10x map-stage win over the per-row Python loop
        on 20k-row corpora."""
        if same:  # a query is not its own neighbor
            sims[qids[:, None] == nids[None, :]] = -np.inf
        m = sims.shape[1]
        take = min(kk, m)
        if take <= 0 or not sims.shape[0]:
            return edges(qids[:0], nids[:0], np.zeros(0))
        # argpartition (introselect) for the unordered top-take — the
        # per-row lexsort below imposes the deterministic order, so a
        # full-width argsort would pay ~2x for ordering that is
        # immediately redone (measured 1.0 s vs 1.9 s per 1024x20000
        # strip on the bench corpus).
        part = (
            np.argpartition(-sims, take - 1, axis=1)[:, :take]
            if take < m
            else np.tile(np.arange(m), (sims.shape[0], 1))
        )
        r = np.arange(sims.shape[0])
        sel_sims = sims[r[:, None], part]
        sel_nids = nids[part]
        if take < m:
            # boundary sim per row; rows whose tie family crosses the
            # cut need expansion (duplicated corpora put 10-wide
            # families at arbitrary cut positions — emitting the WHOLE
            # family keeps the global (sim desc, id asc) tiebreak
            # exact).  One vectorized full-row scan finds them.
            t = sel_sims[:, -1]
            n_tied = (sims >= t[:, None]).sum(axis=1)
            tied_rows = np.flatnonzero(n_tied > take)
        else:
            tied_rows = np.array([], dtype=np.int64)
        # vectorized deterministic per-row order: (sim desc, nid asc)
        order = np.lexsort((sel_nids, -sel_sims), axis=1)
        sel_sims = np.take_along_axis(sel_sims, order, axis=1)
        sel_nids = np.take_along_axis(sel_nids, order, axis=1)
        out_q = np.repeat(qids, take)
        out_n = sel_nids.ravel()
        out_s = sel_sims.ravel()
        if len(tied_rows):
            # The cap only guards fully-degenerate corpora (a tie
            # family the size of a block would quietly re-quadratize
            # the plan — dedup the corpus first).
            tie_cap = max(16 * kk, 1024)
            keep = np.ones(sims.shape[0], dtype=bool)
            keep[tied_rows] = False
            keep_mask = np.repeat(keep, take)
            out_q, out_n, out_s = out_q[keep_mask], out_n[keep_mask], out_s[keep_mask]
            ex_q, ex_n, ex_s = [], [], []
            for i in tied_rows:
                n_tied = int((sims[i] >= sims[i, part[i, -1]]).sum())
                if n_tied > tie_cap:
                    raise ValueError(
                        "knn_self_blas: exact-tie family of "
                        f"{n_tied} crosses the top-{take} cut and "
                        f"exceeds the {tie_cap} expansion cap - "
                        "near-degenerate corpus; dedup it first or "
                        "raise tie_slack"
                    )
                cols = np.flatnonzero(sims[i] >= sims[i, part[i, -1]])
                o = np.lexsort((nids[cols], -sims[i, cols]))
                sel = cols[o]
                ex_q.extend([int(qids[i])] * len(sel))
                ex_n.extend(int(x) for x in nids[sel])
                ex_s.extend(float(x) for x in sims[i, sel])
            out_q = np.concatenate([out_q, np.array(ex_q, dtype=np.int64)])
            out_n = np.concatenate([out_n, np.array(ex_n, dtype=np.int64)])
            out_s = np.concatenate([out_s, np.array(ex_s, dtype=np.float64)])
        return edges(out_q, out_n, out_s)

    cands = _blocked_pairs(corpus, id_col, vec_col, block_rows, topk_rows, schema, both_ways=True)
    w = Window.partitionBy("query_id").orderBy(
        F.col("_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        # drop the -inf self-masked rows: on a corpus with n <= kk the
        # take == m path emits them, and they would survive rnk <= k —
        # a self-loop edge violating the "self excluded" contract
        cands.where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.col("rnk").cast("long").alias("rnk"))
    )
