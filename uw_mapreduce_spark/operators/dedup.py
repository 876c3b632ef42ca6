"""Deduplication operators for large-scale corpus pipelines.

The reference has none of these (SURVEY.md §2.2) — they're the
LLM-pipeline extension surface.  Four levels, cheapest first:

- exact duplicate grouping (hash groupBy — one shuffle on the dedup key),
- content fingerprinting (md5 of normalized text — catches
  whitespace/case variants at groupBy cost),
- n-gram (token-shingle) Jaccard similarity join — exact near-dup
  pairs via an inverted-index self-join (no quadratic blow-up: the join
  key is the shingle, so cost scales with shared-shingle pairs),
- MinHash-LSH and SimHash — sub-quadratic probabilistic candidate
  generation for 100 TB corpora, built on `xxhash64` (JVM-side,
  deterministic; no Python UDFs anywhere in this module).

Scale notes: the Jaccard join's hot keys are ultra-common shingles;
``max_df`` drops shingles appearing in more than that many documents
(standard inverted-index pruning — at 100 TB you always set this).
MinHash banding keeps the candidate join's key space bounded; AQE's
skew-join splitting handles residual hot buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..caching import materialize_and_release, persist_scoped
from ..functions.text import fingerprint, tokens

_SCOPE = "uwms.dedup"


def _jaccard_for_pairs(pairs: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact Jaccard for an explicit candidate-pair set.

    Packs each doc's (already-distinct) shingles into one sorted array
    with a single doc-keyed exchange, attaches the two arrays to each
    candidate pair, and computes |A∩B| MAP-SIDE via ``array_intersect``
    — the former shape exploded every candidate to |shingles(a)| rows
    and re-shuffled that frame against the shingle table on
    (doc_b, shingle), a second corpus-sized exchange the arrays make
    unnecessary (optimization guide §2.3/§2.4).  ``sh`` is distinct per
    (doc, shingle), so the intersect size and array sizes are exactly
    the old intersection/shingle counts.
    """
    docsh = sh.groupBy("doc").agg(F.array_sort(F.collect_set("shingle")).alias("_sh"))
    return (
        pairs.join(
            docsh.select(F.col("doc").alias("doc_a"), F.col("_sh").alias("_sha")),
            "doc_a",
        )
        .join(
            docsh.select(F.col("doc").alias("doc_b"), F.col("_sh").alias("_shb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("_sha", "_shb")).alias("common"),
            F.size("_sha").alias("n_a"),
            F.size("_shb").alias("n_b"),
        )
        # The pre-array shape joined candidates THROUGH the shared
        # shingles, so a pair with no overlap never appeared; keep that
        # contract (ADVICE r10) instead of emitting jaccard=0 rows.
        .where(F.col("common") > 0)
        .withColumn(
            "jaccard_permille",
            F.floor(
                F.lit(1000.0) * F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))
            ).cast("long"),
        )
        .select("doc_a", "doc_b", "jaccard_permille")
    )


def exact_duplicates(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Group identical rows by ``key_cols``: representative id + count.

    One hash-shuffle on the dedup key; partial aggregation map-side.
    """
    return df.groupBy(*key_cols).agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("n_dups"),
    )


def fingerprint_duplicates(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Near-exact dedup on md5(normalized text)."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def _shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """Distinct token n-gram shingles per document: (id, shingle).

    Tokenization happens in its OWN projection before the shingle
    lambda: inlining ``split()`` into the `transform` lambda makes
    Catalyst re-evaluate the regex split per shingle (no CSE inside
    lambda bodies) — measured 5-6× slower.
    """
    # Docs with fewer than n tokens have no shingles.  The filter also
    # guards Spark's sequence(1, 0), which yields a DESCENDING [1, 0]
    # (not an empty array) and would feed slice() an illegal start of 0.
    tok_df = df.select(
        F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("_toks")
    ).where(F.size(F.col("_toks")) >= n)
    toks = F.col("_toks")
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
    )
    # Dedup MAP-SIDE: the distinct key is (doc, shingle) and each doc is
    # one input row, so array_distinct inside the row is exactly the old
    # corpus-wide .distinct() — without shuffling the full shingle table
    # (a 25M-row string exchange at the 100x point; guide §2.4).  The
    # exploded output is also physically grouped by doc, so downstream
    # per-doc aggregates partial-combine within the scan task.
    return tok_df.select(
        "doc",
        F.explode(
            F.array_distinct(F.filter(grams, lambda s: s != F.lit("")))
        ).alias("shingle"),
    )


def _inverted_pair_counts(sh: DataFrame, max_df: int):
    """(common, sizes) for the df-pruned inverted index, via per-shingle
    doc ARRAYS instead of a shingle-keyed self-join.

    ONE exchange groups the shingle table by shingle; a map-side size
    filter then replaces BOTH the hot-shingle count pass and the
    anti-join (`size(_docs) <= max_df` is exactly "df <= max_df", and
    singletons stay, as the old anti-join kept them), the ≤K(K−1)/2
    co-occurring pairs per shingle expand MAP-SIDE from the sorted
    array (the capped co-shipping edge-build shape, r10), and per-doc
    sizes re-derive from one explode of the kept arrays.  The former
    shape shuffled the shingle table by shingle TWICE (df count + self-
    join) and sorted both join sides; pair multiplicity and sizes are
    identical: each shared non-hot shingle contributes one (a<b) pair
    row, each kept (doc, shingle) one size unit (guide §2.3/§2.4).
    Arrays are sorted, so pair order (a<b) matches the join's doc_a<doc_b.
    """
    inv = sh.groupBy("shingle").agg(F.array_sort(F.collect_list("doc")).alias("_docs"))
    kept = inv.where(F.size("_docs") <= max_df).select("_docs")
    # kept feeds two subtrees (sizes + pairs): persist once, eagerly —
    # same race-avoidance barrier as the old shingle-table persist, on
    # a frame that is one row per shingle instead of one per (doc,
    # shingle).
    kept = persist_scoped(kept, _SCOPE)
    kept.count()
    sizes = (
        kept.select(F.explode("_docs").alias("doc"))
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    common = (
        kept.where(F.size("_docs") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(_docs, (x, i) ->"
                    " transform(slice(_docs, i + 2, size(_docs)),"
                    " y -> struct(x AS a, y AS b))))"
                )
            ).alias("_p")
        )
        .groupBy(F.col("_p.a").alias("doc_a"), F.col("_p.b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return common, sizes


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.8,
    max_df: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact near-duplicate pairs by Jaccard over token n-gram shingles.

    Inverted index: group docs per shingle, count shared shingles per
    co-occurring pair, derive the union from per-doc shingle counts.
    Output (doc_a, doc_b, jaccard_permille) with doc_a < doc_b; the
    similarity is reported as floor(1000·J) so it is integer-exact
    across engines.  With ``max_df`` (the production configuration —
    at 100 TB you always set this) the pair stage runs on per-shingle
    doc arrays bounded by max_df (`_inverted_pair_counts`); without it
    array sizes are unbounded, so the classic shingle-keyed self-join
    is kept.
    """
    own_shingles = shingles is None
    sh = _shingles(df, text_col, id_col, n) if own_shingles else shingles
    if max_df is not None:
        common, sizes = _inverted_pair_counts(sh, max_df)
    else:
        # The shingle table feeds several subtrees (sizes + both sides
        # of the pair join).  Persist ONCE and materialize eagerly:
        # inside a single action, AQE launches the subtree stages
        # concurrently and they would race the cache, computing the
        # explode+distinct up to 3x (measured ~3x wall-clock).  The
        # count() is an optimization barrier, exactly like the
        # reference's per-job HDFS materialization but in memory.
        # Scoped (bounded) registration: other dedup operators building
        # the identical shingle table share the entry.
        sh = persist_scoped(sh, _SCOPE)
        sh.count()
        sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
        a = sh.alias("a")
        b = sh.alias("b")
        common = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
            .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("common"))
        )
    jac = (
        common.join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .withColumn(
            "jaccard_permille",
            F.floor(
                F.lit(1000.0) * F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common"))
            ).cast("long"),
        )
    )
    out = jac.where(F.col("jaccard_permille") >= int(threshold * 1000)).select(
        "doc_a", "doc_b", "jaccard_permille"
    )
    if own_shingles:
        # Pair output is tiny; materialize it so the result no longer
        # depends on the scoped caches' residency.
        out = materialize_and_release(out)
    return out


def jaccard_pairs_artifact(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.8,
    max_df: int | None = None,
    cache_dir: str | None = None,
) -> DataFrame:
    """Build-once/probe-many exact n-gram Jaccard pair list: the
    `ngram_jaccard_pairs` output served from a persisted parquet
    artifact — the LEXICAL twin of
    `similarity.near_dup_pairs_artifact` (same cache contract).

    Eight pipeline faces consume the identical (documents, n=5, 0.8,
    max_df=64) pair list — the dedup manifest/clusters, curation
    v2/v3/v6/v7, token savings, and dedup provenance — and each was
    re-paying the shingle explode + inverted-index self-join.  At
    100 TB the pair list is manifest-sized (qualifying pairs only)
    and is THE shared intermediate of a lexical dedup release: built
    once per corpus snapshot, probed by every downstream job.  The
    corpus fingerprint hashes (id, text) per row, so any edit — not
    just id/count changes, including texts permuted across ids —
    invalidates the artifact.  All three
    output columns are int64 (permille similarity, never a double),
    so the parquet round trip is bit-exact.  `ngram_jaccard_documents`
    (the driver anchor face) keeps building directly so the join
    topology itself stays benchmarked.

    Same key/commit/GC discipline as
    `similarity.knn_graph_artifact`: builder-version token in the key
    (kernel changes invalidate stale artifacts), atomic
    write-temp-then-rename commit, newest ``_ARTIFACT_GC_KEEP``
    snapshots kept per family, deterministic-input contract (the
    fingerprint and build jobs re-execute the input plan).  ``max_df``
    None (no cap) and 0 are distinct cache keys."""
    import os

    from .similarity import (
        _ARTIFACT_GC_KEEP,
        _artifact_cache_dir,
        _artifact_exists,
        _builder_version,
        _commit_artifact,
        _corpus_fingerprint,
        _gc_artifact_family,
    )

    spark = df.sparkSession
    family = (
        f"njp{n}_t{int(round(threshold * 1000))}"
        f"_d{'x' if max_df is None else max_df}_"
    )
    # Version covers the kernel AND its shingle projection — a
    # tokenization-only change also rebuilds.
    key = (
        f"{family}v{_builder_version(ngram_jaccard_pairs, _shingles)}"
        f"_{_corpus_fingerprint(df, id_col, text_col)}"
    )
    root = _artifact_cache_dir(cache_dir)
    path = os.path.join(root, key)
    if not _artifact_exists(spark, os.path.join(path, "_SUCCESS")):
        _commit_artifact(
            ngram_jaccard_pairs(
                df, text_col, id_col, n=n, threshold=threshold, max_df=max_df
            ),
            path,
        )
        _gc_artifact_family(spark, root, family, keep=_ARTIFACT_GC_KEEP)
    return spark.read.parquet(path)


#: Mersenne prime 2^61-1 — modulus of the portable affine hash family.
_M61 = (1 << 61) - 1


def _affine_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) coefficients for the portable MinHash family.

    Formula-derived (Knuth multiplicative constants mod small primes) so
    ANY engine can regenerate them from ``i`` alone — the DuckDB oracle
    recomputes the identical list with a one-line ``range()`` CTE rather
    than needing the literals shipped.  a ≤ 32749 < 2^15 keeps
    ``a * x48`` under 2^63 for the 48-bit base, so the arithmetic never
    overflows a signed BIGINT on either engine.
    """
    return [
        ((2654435761 * (i + 1)) % 32749 + 1, (40503 * (i + 1)) % 65521)
        for i in range(num_hashes)
    ]


def _minhash_signatures_from_shingles(
    sh: DataFrame, num_hashes: int, hash_family: str
) -> DataFrame:
    """(doc, shingle) → one signature row per doc (columns mh0..mhk-1).

    ``xxhash64``: fastest JVM path, but no other engine reproduces it —
    queries using it are rows-only checkable.  ``portable``: one md5 per
    shingle sliced to a 48-bit integer base, then k affine transforms
    mod 2^61-1 — pure integer arithmetic any SQL engine replicates
    bit-for-bit (full value-hash oracle), and cheaper than k seeded
    hashes because the expensive digest happens once per shingle.

    The portable base is PROJECTED to a column before the aggregation:
    Catalyst performs no CSE across sibling aggregate expressions, so
    embedding the md5 inside each of the k min() aggs would hash every
    shingle k times (measured ~2× on the whole query at sf1).
    """
    if hash_family == "xxhash64":
        return sh.groupBy("doc").agg(
            *[
                F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"mh{i}")
                for i in range(num_hashes)
            ]
        )
    if hash_family != "portable":
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    based = sh.select(
        "doc",
        F.conv(F.substring(F.md5(F.col("shingle")), 1, 12), 16, 10)
        .cast("long")
        .alias("_x"),
    )
    return based.groupBy("doc").agg(
        *[
            F.min((F.lit(a) * F.col("_x") + F.lit(b)) % F.lit(_M61)).alias(f"mh{i}")
            for i, (a, b) in enumerate(_affine_params(num_hashes))
        ]
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    num_hashes: int = 32,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """MinHash signature per document: k independent min-over-shingles
    hashes.  Pure aggregation — one shuffle, JVM-side hashing."""
    sh = _shingles(df, text_col, id_col, n)
    return _minhash_signatures_from_shingles(sh, num_hashes, hash_family)


def _band_buckets(
    sig: DataFrame, num_hashes: int, bands: int, hash_family: str
) -> DataFrame:
    """(doc, band, bh) band-bucket keys from a signature frame.

    ``portable``: md5 over the comma-joined minhashes — any engine
    reproduces the bucket key, so the candidate set is
    oracle-checkable.  ``xxhash64``: one JVM hash per band (production).
    """
    r = num_hashes // bands
    if hash_family == "portable":
        def _band_hash(b):
            return F.md5(F.concat_ws(",", *[F.col(f"mh{b * r + i}") for i in range(r)]))
    else:
        def _band_hash(b):
            return F.xxhash64(*[F.col(f"mh{b * r + i}") for i in range(r)])

    band_cols = F.array(
        *[
            F.struct(F.lit(b).alias("band"), _band_hash(b).cast("string").alias("bh"))
            for b in range(bands)
        ]
    )
    return sig.select(F.col("doc"), F.explode(band_cols).alias("bk")).select(
        "doc", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh")
    )


def save_minhash_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    hash_family: str = "xxhash64",
) -> None:
    """Persist a MinHash dedup INDEX: band buckets + shingle table.

    The build-once/probe-many artifact for INCREMENTAL dedup (the
    `save_ann_index` story applied to text): at 100 TB the corpus's
    signatures are computed once at ingest; every later shard dedupes
    against the parquet index without touching corpus text again.
    Stored: ``buckets/`` (doc, band, bh — the LSH candidate keys),
    ``shingles/`` (doc, shingle — the exact-Jaccard verify side), and a
    one-line JSON manifest pinning (n, num_hashes, bands, hash_family)
    so probes can never mix hash families with the index.
    """
    import json
    import os

    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    sh = persist_scoped(_shingles(df, text_col, id_col, n), _SCOPE)
    sh.count()
    sig = _minhash_signatures_from_shingles(sh, num_hashes, hash_family)
    _band_buckets(sig, num_hashes, bands, hash_family).write.mode(
        "overwrite"
    ).parquet(os.path.join(path, "buckets"))
    sh.write.mode("overwrite").parquet(os.path.join(path, "shingles"))
    with open(os.path.join(path, "manifest.json"), "w") as f:
        json.dump(
            {"n": n, "num_hashes": num_hashes, "bands": bands,
             "hash_family": hash_family},
            f,
        )


def minhash_dedup_against_index(
    new_df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
) -> DataFrame:
    """Dedupe a NEW batch against a persisted MinHash index:
    (new_doc, corpus_doc, jaccard_permille) for every batch document
    near-duplicating an indexed one.

    The batch side computes shingles + signatures for ITS rows only
    (index parameters come from the manifest — a probe can never use a
    different hash family than the build); candidates are the
    (band, bh) equi-join of batch buckets against index buckets — the
    index never recomputes, the corpus text is never read.  Exact
    Jaccard verifies candidates over the union shingle table, so
    precision is exact; recall is the LSH S-curve, as at build time.
    Batch and corpus ids must be disjoint (standard shard contract).
    """
    import json
    import os

    with open(os.path.join(path, "manifest.json")) as f:
        params = json.load(f)
    spark = new_df.sparkSession
    sh_new = persist_scoped(
        _shingles(new_df, text_col, id_col, params["n"]), _SCOPE
    )
    sh_new.count()
    sig_new = _minhash_signatures_from_shingles(
        sh_new, params["num_hashes"], params["hash_family"]
    )
    b_new = _band_buckets(
        sig_new, params["num_hashes"], params["bands"], params["hash_family"]
    )
    b_idx = spark.read.parquet(os.path.join(path, "buckets"))
    cand = (
        b_new.alias("l")
        .join(
            b_idx.alias("r"),
            (F.col("l.band") == F.col("r.band")) & (F.col("l.bh") == F.col("r.bh")),
        )
        .select(F.col("l.doc").alias("doc_a"), F.col("r.doc").alias("doc_b"))
        .distinct()
    )
    sh_all = sh_new.unionByName(spark.read.parquet(os.path.join(path, "shingles")))
    out = (
        _jaccard_for_pairs(cand, sh_all)
        .where(F.col("jaccard_permille") >= int(threshold * 1000))
        .select(
            F.col("doc_a").alias("new_doc"),
            F.col("doc_b").alias("corpus_doc"),
            "jaccard_permille",
        )
    )
    return materialize_and_release(out)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash banding, verified with
    exact Jaccard.

    With r = num_hashes/bands rows per band, collision probability is
    ~s^r per band (s = true Jaccard) — the standard LSH S-curve.  The
    band join's key is (band index, hash of the band's minhashes), so the
    candidate join never goes quadratic.  Candidates are then verified
    with exact Jaccard computed ONLY over the candidate pairs (join
    candidates back to the shingle table per side) — no false positives,
    and the verification cost stays proportional to the candidate set,
    which is what makes LSH sub-quadratic.  Recall is probabilistic, as
    with any LSH.

    ``hash_family='xxhash64'`` (default) is the production path —
    measured ~18% faster end-to-end than ``'portable'`` at sf1 (5.64 vs
    6.67 s best-of-3, local[32]); the md5 digest per shingle is the
    cost.  Use ``'portable'`` only when an external engine must
    reproduce the buckets bit-for-bit (the catalog's oracle-checked
    query pins it).
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    sh = persist_scoped(_shingles(df, text_col, id_col, n), _SCOPE)
    sh.count()
    sig = _minhash_signatures_from_shingles(sh, num_hashes, hash_family)
    buckets = _band_buckets(sig, num_hashes, bands, hash_family)
    l, rgt = buckets.alias("l"), buckets.alias("r")
    cand = (
        l.join(
            rgt,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(F.col("l.doc").alias("doc_a"), F.col("r.doc").alias("doc_b"))
        .distinct()
    )
    out = _jaccard_for_pairs(cand, sh).where(
        F.col("jaccard_permille") >= int(threshold * 1000)
    )
    return materialize_and_release(out)


def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """SimHash fingerprint per document (column ``simhash64``).

    Bit b of the fingerprint is the sign of Σ_tokens (±1 weighted by
    token frequency).  Implemented as per-bit sum aggregates over
    exploded tokens — a single hash aggregation, fully codegen'd, no
    UDFs.

    ``portable`` (default): 60 bits from an md5-derived integer base —
    the same trick as the portable MinHash family — so a SQL oracle
    reproduces the fingerprint bit-for-bit (and the value stays
    positive, no sign gymnastics).  ``xxhash64``: 64 bits of JVM
    xxhash64, marginally stronger but engine-internal (rows-only
    checkable)."""
    tok = df.select(
        F.col(id_col).alias("doc"), F.explode(tokens(F.col(text_col))).alias("t")
    ).where(F.col("t") != "")
    if hash_family == "portable":
        h = F.conv(F.substring(F.md5(F.col("t")), 1, 15), 16, 10).cast("long")
        n_bits = 60
    elif hash_family == "xxhash64":
        h = F.xxhash64(F.col("t"))
        n_bits = 64
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    # Project the hash ONCE before aggregating: no CSE across sibling
    # aggregate expressions, so referencing `h` inside each of the
    # n_bits sums would hash every token n_bits times.
    hashed = tok.select("doc", h.alias("_h"))
    bit_sums = [
        F.sum(
            F.when(
                F.shiftright(F.col("_h"), b).bitwiseAND(F.lit(1)) == 1, F.lit(1)
            ).otherwise(F.lit(-1))
        ).alias(f"s{b}")
        for b in range(n_bits)
    ]
    sums = hashed.groupBy("doc").agg(*bit_sums)
    fp = None
    for b in range(n_bits):
        bit = F.when(F.col(f"s{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = (
            bit * F.lit(-(1 << 63)).cast("long")
            if b == 63
            else bit * F.lit(1 << b).cast("long")
        )
        fp = term if fp is None else fp + term
    return sums.select(F.col("doc"), fp.alias("simhash64"))


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken):
    hash every char k-gram, then keep the minimum hash of every window
    of ``w`` consecutive k-gram hashes.  Guarantees: identical
    substrings of length >= k+w-1 always share a fingerprint, so local
    edits leave most fingerprints intact — the standard
    plagiarism/near-dup signature.

    ``portable`` (default) hashes k-grams to the md5-derived 60-bit
    base (SQL-oracle-replicable, like the MinHash/SimHash families);
    ``xxhash64`` is the cheaper JVM-internal rolling-hash stand-in.

    Pure Catalyst expressions (sequence/transform/slice/array_min); one
    explode; output (doc, fp) distinct rows.
    """
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    # Guard short texts: Spark's sequence(1, 0) yields a DESCENDING
    # [1, 0], not an empty array, so texts shorter than k (or with
    # fewer than w k-grams) must be filtered out before sequencing.
    tok_df = df.select(F.col(id_col).alias("doc"), norm.alias("_t")).where(
        F.length(norm) >= k + w - 1
    )
    if hash_family == "portable":
        hash_expr = f"cast(conv(substr(md5(substring(_t, i, {k})), 1, 15), 16, 10) as bigint)"
    elif hash_family == "xxhash64":
        hash_expr = f"xxhash64(substring(_t, i, {k}))"
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    hashes = F.expr(
        f"transform(sequence(1, length(_t) - {k - 1}), i -> {hash_expr})"
    )
    # Explode once, then per-window min via a bounded-following window.
    # Two traps avoided here, both measured at ~100x on 500 docs:
    # - any scalar of the array (e.g. size(hashes)) projected NEXT TO
    #   posexplode re-evaluates the whole transform per OUTPUT row
    #   (O(m^2) hashing per doc) - so no size column at all; full
    #   windows are detected with lead(w-1) IS NOT NULL instead;
    # - O(m*w) interpreted array slices (the naive transform+slice
    #   formulation) are replaced by one shuffle and a streaming
    #   window scan.
    flat = tok_df.select("doc", F.posexplode(hashes).alias("_i", "_h"))
    w_spec = Window.partitionBy("doc").orderBy("_i")
    picks = (
        flat.withColumn("_full", F.lead("_h", w - 1).over(w_spec))
        .withColumn("_fp", F.min("_h").over(w_spec.rowsBetween(0, w - 1)))
        .where(F.col("_full").isNotNull())
        .select("doc", F.col("_fp").alias("fp"))
    )
    return picks.distinct()


def cross_corpus_overlap(
    train: DataFrame,
    holdout: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_common: int = 5,
    max_df: int | None = None,
) -> DataFrame:
    """Benchmark decontamination: training docs that share n-gram
    shingles with a holdout/eval corpus.

    The inverted-index join keyed by shingle (same shape as
    ``ngram_jaccard_pairs`` but across two corpora): cost scales with
    shared-shingle pairs, never |train| x |holdout|.  The holdout side
    is tiny in practice (an eval benchmark), so AQE broadcasts its
    shingle table.  ``max_df`` prunes boilerplate shingles by TRAIN-side
    document frequency — the knob that keeps the join bounded at corpus
    scale.

    Returns (train_doc, eval_doc, n_common) for pairs sharing at least
    ``min_common`` distinct shingles — the audit trail a decontamination
    pass filters on.
    """
    sh_t = _shingles(train, text_col, id_col, n)
    sh_e = _shingles(holdout, text_col, id_col, n)
    if max_df is not None:
        # Train shingles feed the hot count AND the anti-join left side:
        # cache before the prune so the explode+distinct runs once.
        sh_t = persist_scoped(sh_t, _SCOPE)
        sh_t.count()
        hot = sh_t.groupBy("shingle").count().where(F.col("count") > max_df).select("shingle")
        sh_t = sh_t.join(hot, "shingle", "left_anti")
    return (
        sh_t.alias("t")
        .join(sh_e.alias("e"), "shingle")
        .groupBy(F.col("t.doc").alias("train_doc"), F.col("e.doc").alias("eval_doc"))
        .agg(F.count(F.lit(1)).alias("n_common"))
        .where(F.col("n_common") >= min_common)
    )


def ppjoin_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact Jaccard near-dup pairs via PPJoin-style PREFIX FILTERING
    (Xiao et al., "Efficient Similarity Joins for Near Duplicate
    Detection") — result-identical to ``ngram_jaccard_pairs`` but only
    each document's RARE-SHINGLE PREFIX enters the candidate join.

    Why this is the 100 TB form of the inverted-index join: indexing
    every shingle makes the candidate join's fan-out the sum of squared
    posting-list lengths.  Order each doc's shingles by global
    frequency (rarest first, ties lexicographic — one TOTAL order for
    the whole corpus) and index only the first

        prefix_len = |x| - ceil(t * |x|) + 1

    shingles: two docs with Jaccard >= t MUST share a prefix shingle
    (pigeonhole on the required overlap), so no pair is lost, while
    the posting lists now hold mostly-rare shingles — the frequent-
    shingle quadratic blowup disappears structurally instead of being
    max_df-truncated away.  A length filter (1000*min >= t_milli*max)
    prunes size-incompatible candidates before verification; the exact
    intersection count then restores precision.

    All threshold arithmetic is integer (t_milli per-mille, ceil via
    (a + 999) DIV 1000) so the output hash-matches the same DuckDB
    oracle as the plain inverted-index operator.
    """
    t_milli = int(round(threshold * 1000))
    sh = persist_scoped(_shingles(df, text_col, id_col, n), _SCOPE)
    sh.count()  # one materialization; candidate + verify subtrees reuse it
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("g_df"))
    w = Window.partitionBy("doc").orderBy("g_df", "shingle")
    ranked = (
        sh.join(freq, "shingle")
        .withColumn("pos", F.row_number().over(w))
        .join(sizes, "doc")
    )
    prefix = ranked.where(
        F.col("pos")
        <= F.col("n_sh") - F.expr(f"({t_milli} * n_sh + 999) DIV 1000") + F.lit(1)
    ).select("doc", "shingle", "n_sh")
    a, b = prefix.alias("pa"), prefix.alias("pb")
    cand = (
        a.join(
            b,
            (F.col("pa.shingle") == F.col("pb.shingle"))
            & (F.col("pa.doc") < F.col("pb.doc"))
            # length filter: J >= t forces 1000*min(|x|,|y|) >= t*max.
            & (
                F.lit(1000) * F.least(F.col("pa.n_sh"), F.col("pb.n_sh"))
                >= F.lit(t_milli) * F.greatest(F.col("pa.n_sh"), F.col("pb.n_sh"))
            ),
        )
        .select(F.col("pa.doc").alias("doc_a"), F.col("pb.doc").alias("doc_b"))
        .distinct()
    )
    # verify keeps the per-shingle explode join (NOT the array form of
    # _jaccard_for_pairs): ppjoin's prefix+length filters leave few
    # candidates, so exploding them against the CACHED shingle table is
    # cheaper than building a corpus-wide per-doc array frame (measured
    # 9.7 s vs 12.4 s at sf1 — the array form only pays when the
    # candidate set is banding-sized, as in minhash_lsh_pairs)
    sa = sh.select(F.col("doc").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc").alias("doc_b"), "shingle")
    common = (
        cand.join(sa, "doc_a").join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    jac = (
        common.join(
            sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n_sh", "n_a"),
            "doc_a",
        )
        .join(
            sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("n_sh", "n_b"),
            "doc_b",
        )
        .withColumn(
            "jaccard_permille",
            F.floor(
                F.lit(1000.0)
                * F.col("common")
                / (F.col("n_a") + F.col("n_b") - F.col("common"))
            ).cast("long"),
        )
    )
    out = jac.where(F.col("jaccard_permille") >= t_milli).select(
        "doc_a", "doc_b", "jaccard_permille"
    )
    return materialize_and_release(out)


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col: str,
    id_col: str,
    window: int = 3,
) -> DataFrame:
    """Sorted Neighborhood Method (SNM) candidate generation: rank all
    rows by the sort key and pair every row with its next ``window``
    neighbors in that order — the THIRD classic dedup blocking family
    beside token blocking (`fuzzy_part_name_pairs`) and LSH banding
    (`minhash_lsh_pairs`).  SNM's strength is typo-tolerant locality:
    near-duplicates with different first tokens (which token blocking
    separates) usually still sort adjacently.

    Candidate count is EXACTLY n·window — linear by construction, no
    skew possible (contrast Σ|block|² blocking, which degrades on hot
    blocks).

    Scale shape: the rank is `scale.global_rank_scalable` (range
    exchange + P-row offsets — no single-partition sort), and each of
    the ``window`` neighbor joins is a 1:1 shifted-rank equi-join —
    the reference's own O12 bounded-replication idiom
    (SlidingAggregation.java:433-536) reused for record linkage.

    Returns (id_a, key_a, id_b, key_b, delta) candidates; callers
    append their verify predicate (edit distance etc.)."""
    from .scale import global_rank_scalable

    ranked = global_rank_scalable(
        df.select(F.col(id_col), F.col(key_col)), [key_col, id_col], "_snm_rank"
    ).localCheckpoint(eager=True)
    out = None
    for delta in range(1, window + 1):
        shifted = ranked.select(
            (F.col("_snm_rank") - F.lit(delta)).alias("_snm_rank"),
            F.col(id_col).alias("_id_b"),
            F.col(key_col).alias("_key_b"),
        )
        p = ranked.join(shifted, "_snm_rank").select(
            F.col(id_col).alias("id_a"),
            F.col(key_col).alias("key_a"),
            F.col("_id_b").alias("id_b"),
            F.col("_key_b").alias("key_b"),
            F.lit(delta).cast("long").alias("delta"),
        )
        out = p if out is None else out.unionByName(p)
    return out


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by CONTAINMENT — |A∩B| / min(|A|, |B|) —
    the asymmetric-length complement of `ngram_jaccard_pairs`: a
    snippet quoted inside a much longer document scores ~1000 here but
    near 0 on Jaccard (the union is dominated by the long side), so
    this is the quotation / boilerplate-inclusion / version-subset
    detector a dedup suite needs beside symmetric similarity.

    Same inverted-index plan as Jaccard (per-shingle doc arrays under
    `max_df`, classic shared-shingle self-join otherwise; cost
    ∝ co-occurring pairs never |docs|²), with the denominator swapped
    to the SMALLER side — `least(n_a, n_b)` — and reported as integer
    floor(1000·C)."""
    sh = _shingles(df, text_col, id_col, n)
    if max_df is not None:
        common, sizes = _inverted_pair_counts(sh, max_df)
    else:
        sh = persist_scoped(sh, _SCOPE)
        sh.count()
        sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
        a, b = sh.alias("a"), sh.alias("b")
        common = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc") < F.col("b.doc")))
            .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("common"))
        )
    cont = (
        common.join(sizes.withColumnRenamed("doc", "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc", "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .withColumn(
            "containment_permille",
            F.floor(
                F.lit(1000.0) * F.col("common") / F.least(F.col("n_a"), F.col("n_b"))
            ).cast("long"),
        )
    )
    out = cont.where(
        F.col("containment_permille") >= int(threshold * 1000)
    ).select("doc_a", "doc_b", "containment_permille")
    return materialize_and_release(out)
