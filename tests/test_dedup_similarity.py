"""Dedup + similarity operators on constructed ground truth."""

from __future__ import annotations

from pyspark.sql import functions as F

from uw_mapreduce_spark.operators.dedup import (
    exact_duplicates,
    fingerprint_duplicates,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from uw_mapreduce_spark.operators.similarity import knn_bruteforce, knn_ivf


BASE = "the quick brown fox jumps over the lazy dog and runs far away tonight"


def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, "  " + BASE.upper() + "  "),  # fingerprint dup of 0
        (3, BASE + " extra tail words here"),  # near dup of 0
        (4, "completely different content about spark window aggregation plans"),
        (5, "another unrelated document mentioning parquet column pruning only"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(spark):
    out = {(r.keep_id, r.n_dups) for r in exact_duplicates(docs(spark), ["text"], "doc_id").collect()}
    assert (0, 2) in out  # docs 0 and 1 collapse
    assert len(out) == 5


def test_fingerprint_duplicates_normalizes_case_and_space(spark):
    out = {r.keep_id: r.n_dups for r in fingerprint_duplicates(docs(spark), "text", "doc_id").collect()}
    assert out[0] == 3  # 0, 1, 2 share a fingerprint


def test_ngram_jaccard_finds_near_dup(spark):
    pairs = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs(spark), threshold=0.5).collect()
    }
    assert (0, 1) in pairs and (0, 3) in pairs and (1, 3) in pairs
    assert not any(4 in p or 5 in p for p in pairs)


def test_minhash_lsh_recovers_exact_dups_and_verifies(spark):
    pairs = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs(spark), threshold=0.5).collect()
    }
    # identical docs always collide in every band; verification keeps them
    assert (0, 1) in pairs
    assert not any(4 in p or 5 in p for p in pairs)


def test_simhash_identical_docs_equal_near_docs_close(spark):
    fp = {r.doc: r.simhash64 for r in simhash(docs(spark)).collect()}
    assert fp[0] == fp[1] == fp[2]
    ham = bin((fp[0] ^ fp[3]) & ((1 << 64) - 1)).count("1")
    ham_far = bin((fp[0] ^ fp[4]) & ((1 << 64) - 1)).count("1")
    assert ham < ham_far


def vectors(spark):
    import math

    rows = []
    for i in range(40):
        base = [0.0] * 8
        base[i % 4] = 1.0
        jitter = [(x + 0.01 * ((i * 7 + j) % 5)) for j, x in enumerate(base)]
        rows.append((i, [float(v) for v in jitter], i % 4))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_knn_bruteforce_finds_same_cluster(spark):
    emb = vectors(spark)
    out = knn_bruteforce(emb, emb.where("vec_id < 4"), k=3).collect()
    assert len(out) == 12
    for r in out:
        assert r.neighbor_id % 4 == r.query_id % 4  # same dominant axis


def test_knn_ivf_matches_bruteforce_with_full_probes(spark):
    emb = vectors(spark)
    q = emb.where("vec_id < 4")
    exact = {(r.query_id, r.neighbor_id, r.rnk) for r in knn_bruteforce(emb, q, k=3).collect()}
    ivf = {
        (r.query_id, r.neighbor_id, r.rnk)
        for r in knn_ivf(emb, q, k=3, num_centroids=8, n_probes=8).collect()
    }
    assert ivf == exact  # probing every bucket = exact


def test_knn_ivf_recall(spark, sf_oracle):
    """Measured recall floor on the driver's REAL embeddings — 64-d with
    no cluster structure (same-label cosine ≈ cross-label ≈ 0), the
    worst case for cell-probe ANN.  With redundant assignment (each
    vector indexed under its top-3 centroids) and 6/16 probes, recall vs
    brute-force ground truth measured 0.98 at sf0.01 and sf0.1; the
    whole pipeline is deterministic, so 0.9 is a stable floor, not a
    flake budget.  Single-assignment defaults measure 0.61 here — that
    gap is the documented cost/recall trade, not a bug."""
    from uw_mapreduce_spark.sources.tables import load_table

    emb = load_table(spark, sf_oracle, "embeddings")
    q = emb.where("vec_id < 20")
    exact = {(r.query_id, r.neighbor_id) for r in knn_bruteforce(emb, q, k=5).collect()}
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in knn_ivf(
            emb, q, k=5, num_centroids=16, n_probes=6, n_assign=3
        ).collect()
    }
    assert len(ivf & exact) / len(exact) >= 0.9


def test_cosine_near_dup_lsh_subset_of_exact(spark, sf_small):
    from uw_mapreduce_spark.operators.similarity import (
        cosine_near_dup_lsh,
        cosine_near_dup_pairs,
    )
    from uw_mapreduce_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings")
    exact = {(r.id_a, r.id_b) for r in cosine_near_dup_pairs(emb, 0.45).collect()}
    lsh = {(r.id_a, r.id_b) for r in cosine_near_dup_lsh(emb, 0.45).collect()}
    assert lsh <= exact          # exact precision
    if exact:
        assert len(lsh) / len(exact) >= 0.3   # sane recall floor


def test_minhash_index_probe_equals_direct(spark, sf_small, tmp_path):
    """Persisted-index incremental dedup ≡ direct computation: probing
    batch B against an index of corpus A must produce exactly the A×B
    cross pairs that `minhash_lsh_pairs` finds over A ∪ B (same hash
    family, same threshold) — the index adds persistence, not
    approximation."""
    from uw_mapreduce_spark.operators.dedup import (
        minhash_dedup_against_index,
        minhash_lsh_pairs,
        save_minhash_index,
    )
    from uw_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    split = 25
    corpus = docs.where(F.col("doc_id") < split)
    batch = docs.where(F.col("doc_id") >= split)
    assert corpus.count() and batch.count()

    direct = {
        (r.doc_b, r.doc_a, r.jaccard_permille)
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
        if r.doc_a < split <= r.doc_b  # cross pairs only (ids ordered a < b)
    }
    idx = str(tmp_path / "mh_idx")
    save_minhash_index(corpus, idx)
    probed = {
        (r.new_doc, r.corpus_doc, r.jaccard_permille)
        for r in minhash_dedup_against_index(batch, idx, threshold=0.5).collect()
    }
    assert probed == direct


def test_semantic_dedup_fast_manifest_agrees_with_exact(spark, sf_small):
    """The LSH production face must (a) never merge vectors the exact
    kernel keeps apart — LSH pairs are a verified subset, so fast
    components refine exact ones — and (b) agree with the exact
    manifest's keep/drop verdict on the large majority of vectors
    (probabilistic recall can only SPLIT clusters, never invent them)."""
    from uw_mapreduce_spark.plans.catalog import QUERIES
    from uw_mapreduce_spark.plans.catalog_llm import semantic_fast_manifest_df

    exact = {
        r["vec_id"]: (r["canonical_id"], r["keep"])
        for r in QUERIES["semantic_dedup_manifest"](spark, sf_small).collect()
    }
    fast = {
        r["vec_id"]: (r["canonical_id"], r["keep"])
        for r in semantic_fast_manifest_df(spark, sf_small).collect()
    }
    assert set(fast) == set(exact)  # one manifest row per vector, both faces
    #

    # (a) fast clusters refine exact clusters: vectors the fast face
    # groups together must also share an exact canonical.
    fast_groups: dict = {}
    for vid, (canon, _k) in fast.items():
        fast_groups.setdefault(canon, []).append(vid)
    for members in fast_groups.values():
        assert len({exact[v][0] for v in members}) == 1
    # (b) keep/drop agreement on ≥80% of vectors (missed LSH pairs only
    # flip drops back to keeps).
    agree = sum(1 for v in fast if fast[v][1] == exact[v][1])
    assert agree / len(fast) >= 0.8

    # (c) the registered hash-pinned faces must report the contract
    # satisfied — the same rows their DuckDB oracles pin.
    inv = QUERIES["semantic_dedup_fast_manifest"](spark, sf_small).collect()
    assert len(inv) == len(exact)
    assert all(
        r["keep_consistent"] and r["canonical_monotone"] and r["canonical_closed"]
        for r in inv
    )
    gate = QUERIES["semantic_dedup_agreement_gate"](spark, sf_small).collect()
    assert len(gate) == 1
    assert gate[0]["n_vectors"] == len(exact)
    assert gate[0]["agreement_ok"] is True
    assert gate[0]["refinement_violations"] == 0


def test_winnow_fingerprints_overlap_properties(spark):
    from uw_mapreduce_spark.operators.dedup import winnow_fingerprints

    rows = [
        (0, BASE),
        (1, BASE),                              # identical
        (2, BASE.replace("fox", "cat")),        # one-word edit
        (3, "entirely different text about columnar shuffles and spill files"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {}
    for r in winnow_fingerprints(df).collect():
        fps.setdefault(r.doc, set()).add(r.fp)
    assert fps[0] == fps[1]                     # identical docs: identical fingerprints
    j_edit = len(fps[0] & fps[2]) / len(fps[0] | fps[2])
    j_far = len(fps[0] & fps[3]) / len(fps[0] | fps[3])
    assert j_edit > 0.5                         # local edit keeps most fingerprints
    assert j_far < 0.1


def test_cosine_numpy_blocked_equals_exact(spark, sf_small):
    """The BLAS kernel with FORCED multi-block pairing (block_rows far
    below corpus size → several id-range blocks, rows replicated into
    their block-pair groups and scored executor-side via applyInPandas)
    must emit exactly the Catalyst exact path's pairs, each exactly
    once — every (a < b) pair lives in exactly one block-pair group, so
    no pair can be dropped or double-counted."""
    from uw_mapreduce_spark.operators.similarity import (
        cosine_near_dup_pairs,
        cosine_near_dup_pairs_numpy,
    )
    from uw_mapreduce_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings")
    exact = {(r.id_a, r.id_b) for r in cosine_near_dup_pairs(emb, 0.30).collect()}
    blocked = [(r.id_a, r.id_b) for r in
               cosine_near_dup_pairs_numpy(emb, 0.30, block_rows=64).collect()]
    assert len(blocked) == len(set(blocked))  # exactly-once across blocks
    assert set(blocked) == exact


def test_blocked_kernels_drop_zero_norm_rows_on_both_paths(spark):
    """Zero vectors have no cosine: neither BLAS kernel may pair them or
    rank them, as a query or as a neighbor, and the broadcast path
    (one block) and the block-pair path (block_rows=16) agree."""
    from uw_mapreduce_spark.operators.similarity import (
        cosine_near_dup_pairs_numpy,
        knn_self_blas,
    )

    rows = [(i, [float(i * 7 % 5 + 1), float(i * 3 % 4), float(i % 2)]) for i in range(60)]
    rows += [(1000 + i, [0.0, 0.0, 0.0]) for i in range(5)]
    rows += [(2000 + i, [1.0, 2.0, 3.0]) for i in range(6)]  # a tie family
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    zero = set(range(1000, 1005))

    def both_paths(kernel, **kw):
        one, many = (
            sorted(tuple(r) for r in kernel(corpus, block_rows=b, **kw).collect())
            for b in (65536, 16)
        )
        assert one == many
        return one

    pairs = both_paths(cosine_near_dup_pairs_numpy, threshold=0.9)
    assert pairs and not zero & {i for p in pairs for i in p}
    edges = both_paths(knn_self_blas, k=4)
    assert {q for q, _n, _r in edges} == {i for i, _v in rows} - zero
    assert not zero & {n for _q, n, _r in edges}


def test_jaccard_max_df_prunes_hot_shingle(spark):
    """A shingle hot enough to exceed max_df is dropped from the
    inverted index (it alone can no longer connect a pair), while true
    above-threshold near-dup pairs are unchanged — the pruning removes
    join cost, not recall at the near-dup threshold."""
    from uw_mapreduce_spark.operators.dedup import ngram_jaccard_pairs

    hot = "common boilerplate header shared everywhere"
    body = " alpha beta gamma delta epsilon zeta eta kappa lambda mu"
    rows = [(0, hot + body + " theta"), (1, hot + body + " iota")]
    rows += [(i, f"{hot} unique{i} filler{i} words{i} here{i} now{i} x{i} y{i}")
             for i in range(2, 12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # Every pair shares the hot 5-gram: without pruning, all 66 pairs
    # survive threshold 0; with max_df=8 only truly-overlapping pairs do.
    all_pairs = ngram_jaccard_pairs(df, threshold=0.0)
    pruned_pairs = ngram_jaccard_pairs(df, threshold=0.0, max_df=8)
    assert all_pairs.count() == 66
    assert {(r.doc_a, r.doc_b) for r in pruned_pairs.collect()} == {(0, 1)}

    # At the near-dup threshold the answer is identical with and without.
    near = lambda md: {(r.doc_a, r.doc_b)
                       for r in ngram_jaccard_pairs(df, threshold=0.8, max_df=md).collect()}
    assert near(None) == near(8) == {(0, 1)}


def test_triangle_counts_known_graphs(spark, monkeypatch):
    from uw_mapreduce_spark.operators import graph
    from uw_mapreduce_spark.operators.graph import triangle_counts

    # K4: every vertex sits in C(3,2) = 3 triangles; 4 triangles total.
    k4 = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a < b], "src long, dst long"
    )
    got = {r["v"]: r["n_triangles"] for r in triangle_counts(k4).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}
    assert sum(got.values()) // 3 == 4
    # The broadcast bound caps the closing-edge broadcast too: K4's 6
    # edges lie between the bound 4 and twice it, so the closing join
    # must shuffle (auto-broadcast off, so only a forced hint could
    # broadcast) and give the same counts.
    monkeypatch.setattr(graph, "_BCAST_MAX_ROWS", 4)
    confs = ("spark.sql.autoBroadcastJoinThreshold",
             "spark.sql.adaptive.autoBroadcastJoinThreshold")
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k in confs:
            spark.conf.set(k, "-1")
        capped = triangle_counts(k4)
        assert {r["v"]: r["n_triangles"] for r in capped.collect()} == got
        plan = capped._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert not [ln for ln in plan.splitlines()
                if "BroadcastHashJoin" in ln and "LeftSemi" in ln], plan
    # A path has no triangles; result is empty.
    path = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "src long, dst long")
    assert triangle_counts(path).count() == 0
    # Duplicate / reversed / self-loop edges canonicalize away.
    messy = spark.createDataFrame(
        [(0, 1), (1, 0), (1, 2), (2, 0), (0, 0), (2, 1)], "src long, dst long"
    )
    got2 = {r["v"]: r["n_triangles"] for r in triangle_counts(messy).collect()}
    assert got2 == {0: 1, 1: 1, 2: 1}


def test_pagerank_known_graphs(spark):
    from uw_mapreduce_spark.operators.graph import pagerank

    # Directed 3-cycle: perfectly symmetric, ranks stay equal (and at
    # the fixpoint value ~1/3).
    cyc = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "src long, dst long")
    got = {r["v"]: r["rank_micro"] for r in pagerank(cyc, iterations=10).collect()}
    assert len(set(got.values())) == 1
    assert abs(got[0] - 333333) < 5
    # Star pointing at the hub: the hub outranks every leaf.
    star = spark.createDataFrame([(i, 99) for i in range(5)], "src long, dst long")
    ranks = {r["v"]: r["rank_micro"] for r in pagerank(star, iterations=5).collect()}
    assert all(ranks[99] > ranks[i] for i in range(5))


def test_bigram_lm_scores_rank_scrambled_text_lower(spark):
    from uw_mapreduce_spark.operators.lm import bigram_lm_scores

    fluent = "the cat sat on the mat and the cat sat on the mat again"
    docs = spark.createDataFrame(
        [
            ("good1", fluent),
            ("good2", fluent),
            ("good3", "the cat sat on the mat"),
            ("scrambled", "mat the on cat again sat the mat and on sat cat"),
            ("empty", ""),
        ],
        "doc_id string, text string",
    )
    got = {r["doc_id"]: r for r in bigram_lm_scores(docs).collect()}
    # Scrambled word salad scores strictly below the fluent docs.
    assert got["scrambled"]["lm_score_permille"] < got["good1"]["lm_score_permille"]
    assert got["good3"]["lm_score_permille"] > got["scrambled"]["lm_score_permille"]
    # Empty doc: zero bigrams, zero score, still present in the output.
    assert got["empty"]["n_bigrams"] == 0 and got["empty"]["lm_score_permille"] == 0
    assert got["good1"]["n_bigrams"] == len(fluent.split()) - 1


def test_ppjoin_equals_naive_jaccard_join(spark, sf_small):
    from uw_mapreduce_spark.operators.dedup import ngram_jaccard_pairs, ppjoin_pairs
    from uw_mapreduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents")
    naive = {
        (r["doc_a"], r["doc_b"], r["jaccard_permille"])
        for r in ngram_jaccard_pairs(docs, "text", "doc_id", n=5, threshold=0.8).collect()
    }
    pp = {
        (r["doc_a"], r["doc_b"], r["jaccard_permille"])
        for r in ppjoin_pairs(docs, "text", "doc_id", n=5, threshold=0.8).collect()
    }
    assert pp == naive  # prefix filtering is lossless
    assert len(pp) > 0  # the corpus genuinely has near-dups to find


def test_ann_index_save_load_round_trip(spark, sf_small, tmp_path):
    from pyspark.sql import functions as F

    from uw_mapreduce_spark.operators.similarity import (
        kmeans_centroids,
        knn_ivf,
        load_ann_index,
        save_ann_index,
    )
    from uw_mapreduce_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    built = kmeans_centroids(emb, 16)
    path = str(tmp_path / "ivf_index")
    save_ann_index(built, path)
    loaded = load_ann_index(spark, path)
    fresh = {
        tuple(r) for r in knn_ivf(emb, queries, k=5, num_centroids=16, n_probes=6).collect()
    }
    reused = {
        tuple(r) for r in knn_ivf(emb, queries, k=5, n_probes=6, centroids=loaded).collect()
    }
    # Deterministic training -> the persisted index reproduces the
    # in-place build's results exactly.
    assert reused == fresh and len(fresh) > 0


def test_snm_candidates_are_exactly_n_times_w_minus_tail(spark):
    """SNM candidate count is linear by construction: each rank pairs
    with its next w neighbors, so total = n*w - (w + ... + 1) tail.
    Duplicate keys are ranked by id, and a window of n or more pairs
    every rank with every later one."""
    from uw_mapreduce_spark.operators.dedup import sorted_neighborhood_pairs

    rows = [(i, f"name{i:03d}") for i in range(20)]
    df = spark.createDataFrame(rows, "id long, k string")
    w = 3
    cand = sorted_neighborhood_pairs(df, "k", "id", window=w)
    assert cand.count() == 20 * w - (1 + 2 + 3)
    # adjacency in sort order: name000 pairs with 001,002,003 only
    nbrs = {r["key_b"] for r in cand.collect() if r["key_a"] == "name000"}
    assert nbrs == {"name001", "name002", "name003"}

    def model(rows, w):
        """Each rank with its next ``w`` ranks, in (key, id) order."""
        order = sorted(rows, key=lambda r: (r[1], r[0]))
        return sorted(
            (*order[i], *order[j], j - i)
            for i in range(len(order))
            for j in range(i + 1, min(i + w, len(order) - 1) + 1)
        )

    dup_keys = [((i * 11) % 23, f"k{i % 5}") for i in range(23)]
    few = [(i, f"name{i}") for i in range(6)]
    for rows, w in ((dup_keys, 4), (few, 6), (few, 9)):
        got = sorted(
            map(tuple, sorted_neighborhood_pairs(
                spark.createDataFrame(rows, "id long, k string"), "k", "id", window=w
            ).select("id_a", "key_a", "id_b", "key_b", "delta").collect())
        )
        assert got == model(rows, w), (w, rows)


def test_snm_catches_cross_block_typo(spark):
    """The case token blocking misses: a typo in the FIRST token.
    'aqua zircon' vs 'aqha zircon' share no first token but sort
    adjacently."""
    from uw_mapreduce_spark.operators.dedup import sorted_neighborhood_pairs

    rows = [(1, "aqha zircon"), (2, "aqua zircon"), (3, "zzz other")]
    df = spark.createDataFrame(rows, "id long, k string")
    cand = sorted_neighborhood_pairs(df, "k", "id", window=1)
    pairs = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    assert (1, 2) in pairs  # adjacent despite different first tokens


def test_containment_catches_subset_jaccard_misses(spark):
    """A short doc quoted inside a long one: containment ~1000,
    Jaccard far below threshold — the semantic the asymmetric
    denominator exists for."""
    from uw_mapreduce_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"w{i}" for i in range(120))
    rows = [(1, short), (2, short + " " + filler)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cont = ngram_containment_pairs(df, threshold=0.9).collect()
    assert len(cont) == 1 and cont[0]["containment_permille"] == 1000
    jac = ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert jac == []  # symmetric similarity misses the inclusion


def test_lsh_plane_family_is_not_rank_one():
    """Regression for the CRC32-parity plane bug: a GF(2)-LINEAR bit
    mix factorizes sign(i, j) into s_i*t_j, making every hyperplane
    the same direction up to sign — the 32-bit signature space
    collapses to 2 values and the banded LSH degenerates to a
    2-bucket all-pairs verify (quadratic at scale).  The splitmix64
    family must yield a full-rank plane matrix and, on an isotropic
    corpus, signatures that actually spread across buckets."""
    import numpy as np

    from uw_mapreduce_spark.operators.similarity import _plane_sign

    planes, dim = 32, 64
    P = np.array([[_plane_sign(i, j) for j in range(dim)] for i in range(planes)])
    assert np.linalg.matrix_rank(P) == planes  # rank-one bug => rank 1

    rng = np.random.default_rng(7)
    mat = rng.standard_normal((2000, dim))
    bits = (mat @ P.T) > 0
    w = 1 << np.arange(8, dtype=np.uint64)
    for b in range(4):  # 4 bands of 8 bits, as the blas face slices
        bh = (bits[:, b * 8 : (b + 1) * 8].astype(np.uint64) * w).sum(axis=1)
        counts = np.unique(bh, return_counts=True)[1]
        assert len(counts) > 64           # was exactly 2 with CRC32
        assert counts.max() < 2000 * 0.25  # no degenerate mega-bucket


def test_kmeans_column_vs_posexplode_mean_paths_identical(spark):
    """The dim guard (VERDICT r10 item 5): above
    _KMEANS_COLUMN_AGG_MAX_DIM the Lloyd mean falls back from
    per-dimension column aggregates to the posexplode shape.  Both
    paths compute the same decimal-exact mean, so forcing the
    threshold must not change a single centroid bit."""
    import random

    import uw_mapreduce_spark.operators.similarity as sim

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-1.0, 1.0) for _ in range(8)]) for i in range(64)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    col_path = sim.kmeans_centroids(emb, 4, iterations=2).collect()
    old = sim._KMEANS_COLUMN_AGG_MAX_DIM
    try:
        sim._KMEANS_COLUMN_AGG_MAX_DIM = 4  # dim 8 > 4 -> posexplode path
        exp_path = sim.kmeans_centroids(emb, 4, iterations=2).collect()
    finally:
        sim._KMEANS_COLUMN_AGG_MAX_DIM = old
    a = {r["cent_id"]: list(r["embedding"]) for r in col_path}
    b = {r["cent_id"]: list(r["embedding"]) for r in exp_path}
    assert a == b  # bit-identical centroids on either mean shape


def test_kmeans_empty_corpus_returns_empty_frame(spark):
    """ADVICE r10: the dim probe must not TypeError on an empty corpus;
    the old (pre-column-agg) behavior was an empty centroid frame."""
    from uw_mapreduce_spark.operators.similarity import kmeans_centroids

    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = kmeans_centroids(emb, 4, iterations=2)
    assert out.columns == ["cent_id", "embedding"]
    assert out.count() == 0
