"""Classifier-evaluation operators: exact ROC AUC, gains/capture
deciles, and leave-one-fold-out cross-validation.

Why in a data engine: curation pipelines gate corpora on model scores
(quality classifiers, language ID, safety filters).  Before a score
becomes a filter threshold it needs an eval harness — AUC against a
trusted label, capture-rate deciles to pick the threshold, and
cross-validated accuracy to detect leakage/overfit — run at corpus
scale on the SAME engine that applies the filter, not exported to a
notebook.

Determinism contract (the repo's value-hash idiom): scores come from
the integer-quantized centroid machinery (`operators/classify.py`), so
every engine sees bit-identical doubles; AUC is then computed as exact
INTEGER pair counting (2·U statistic) rather than a float rank mean —
ties get the standard half credit without any floating-point rank
arithmetic.

Scale shape (100 TB):

- AUC: one groupBy(score) (map-side combine bounds the shuffle at
  |distinct scores| per task), one scalable prefix sum over the
  distinct-score frame (`scale.prefix_scalable` — range exchange
  + P-row offsets, no single-partition window), one scalar aggregate.
- Deciles: `rank.ntile_scalable` on (score desc, id) — two-pass
  global rank, closed-form bucket; the final capture table is k rows.
- k-fold CV: fold sums are ONE pass (groupBy fold×label×pos bounded
  at F·L·dim rows); leave-one-fold-out centroids are total−fold in
  driver Python over that tiny frame; scoring is map-only per fold
  against literal centroid arrays (corpus never shuffled).

Reference parity: the reference engine (uw-mapreduce) has no eval
surface; this extends its aggregation layer (SlidingAggregation.java:
433-536) the way a training-data pipeline requires.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .classify import _quantized, label_centroid_sums
from .scale import prefix_scalable

__all__ = [
    "binary_centroid_scores",
    "roc_auc",
    "rank_sum_test",
    "gains_table",
    "kfold_centroid_cv",
]

_DEC = "decimal(38,0)"


def binary_centroid_scores(
    df: DataFrame,
    pos_label: int,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1_000_000,
) -> DataFrame:
    """(id, is_pos, score): one-vs-rest framing of a labeled embedding
    corpus — score is the exact-integer cosine against the positive
    class's centroid SUM vector (scale-invariant, so no mean division;
    see `classify.py`'s determinism contract).  Map-only after one
    L·dim-bounded centroid pass."""
    cent = label_centroid_sums(df, label_col, vec_col, scale)
    comps = {
        int(r["pos"]): int(r["s"])
        for r in cent.where(F.col("c_label") == pos_label).collect()
    }
    if not comps:
        raise ValueError(f"pos_label {pos_label} has no rows in the corpus")
    dim = 1 + max(comps)
    svec = [comps.get(p, 0) for p in range(dim)]
    # Exact integer norm² in arbitrary-precision Python, ONE conversion
    # to double — matches DuckDB's CAST(SUM(s*s) AS DOUBLE) (hugeint).
    n2 = float(sum(c * c for c in svec))
    lit = F.array(*[F.lit(c) for c in svec])
    # DECIMAL(38,0) accumulation: the centroid sums grow with the
    # corpus, so an int64 dot wraps from ~1e5 positive rows; the DuckDB
    # twin is HUGEINT-exact, and exact==exact preserves the hash.
    d = F.aggregate(
        F.zip_with(
            _quantized(vec_col, scale), lit,
            lambda a, b: a.cast(_DEC) * b.cast(_DEC),
        ),
        F.lit(0).cast(_DEC),
        lambda acc, x: acc + x,
    )
    return df.select(
        F.col(id_col),
        (F.col(label_col) == pos_label).cast("long").alias("is_pos"),
        (d.cast("double") / F.sqrt(F.lit(n2))).alias("score"),
    )


def _u2_frame(df, pos_col, value_col, *aggs):
    """The value histogram behind `roc_auc` and `rank_sum_test`: per
    DISTINCT ``value_col``, ``_np`` positive and ``_nn`` negative rows
    (plus ``aggs``), and its doubled U term ``np · (2·negatives_below +
    nn)`` — strict wins count 2, ties 1.  The negatives below are the
    exclusive prefix of ``_nn`` in value order, from the scalable
    two-pass `scale.prefix_scalable`.  The term is DECIMAL(38,0):
    positives×below is corpus-sized × corpus-sized and an int64 product
    wraps silently from ~3e9 pairs (non-ANSI).  Returns the frame and
    the term."""
    g = df.groupBy(F.col(value_col).alias("_v")).agg(
        F.sum(F.col(pos_col)).cast("long").alias("_np"),
        F.sum(F.lit(1) - F.col(pos_col)).cast("long").alias("_nn"),
        *aggs,
    )
    pref = prefix_scalable(g, ["_v"], "_nn", out_col="_prefix")
    below = (F.col("_prefix") - F.col("_nn")).cast(_DEC)
    term = F.col("_np").cast(_DEC) * (F.lit(2).cast(_DEC) * below + F.col("_nn").cast(_DEC))
    return pref, term


def roc_auc(
    scored: DataFrame,
    is_pos_col: str = "is_pos",
    score_col: str = "score",
) -> DataFrame:
    """One-row exact AUC: (n_pos, n_neg, num2, auc_micro).

    ``num2`` is twice the Mann-Whitney U statistic counted over exact
    integers: group rows by DISTINCT score, order ascending, and for
    each score s with (np_s positives, nn_s negatives) add
    ``np_s · (2·negatives_below + nn_s)`` — strictly-greater pairs
    count 2, tied pairs count 1 (the standard ½ tie credit, doubled).
    ``auc_micro = ⌊10⁶·num2 / (2·n_pos·n_neg)⌋`` in DECIMAL(38,0) so
    the division never wraps int64 at any corpus size.  The pair count
    itself ACCUMULATES in DECIMAL(38,0) (per-score terms are
    corpus×corpus products — an int64 sum wraps silently once
    n_pos·n_neg ≳ 4.6·10¹⁸); the reported ``num2`` column is BIGINT,
    exact while 2·n_pos·n_neg < 2⁶³ (n ≲ 3·10⁹ rows — beyond that the
    ratio is still exact, but the raw-count column becomes NULL: a
    non-ANSI Spark cast of an overflowing DECIMAL to long returns NULL
    rather than saturating, and throws under ANSI mode).

    The ordered cumulative count runs on the scalable two-pass prefix
    plan (`_u2_frame`), not an unpartitioned window — |distinct scores|
    grows with the corpus."""
    pref, u2 = _u2_frame(scored, is_pos_col, score_col)
    tot = pref.agg(
        F.sum("_np").cast("long").alias("n_pos"),
        F.sum("_nn").cast("long").alias("n_neg"),
        F.sum(u2).alias("_num2_dec"),
    ).withColumn("num2", F.col("_num2_dec").cast("long"))
    num = F.col("_num2_dec") * F.lit(1_000_000).cast(_DEC)
    den = F.lit(2).cast(_DEC) * F.col("n_pos").cast(_DEC) * F.col("n_neg").cast(_DEC)
    # floor == trunc here: num2 ≤ 2·n_pos·n_neg so the ratio is ≥ 0.
    return tot.select(
        "n_pos", "n_neg", "num2",
        F.floor(num / den).cast("long").alias("auc_micro"),
    )


def rank_sum_test(
    df: DataFrame,
    treated_col: str = "treated",
    value_col: str = "v",
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test, one exact row:
    (n_treatment, n_control, u2_treatment, z_micro).

    The non-parametric A/B readout: does the treatment arm
    stochastically dominate control, with no normality assumption on
    the metric?  ``u2_treatment`` is twice the U statistic counted the
    `roc_auc` way — per DISTINCT metric value with (np treated, nn
    control) rows, add ``np · (2·controls_below + nn)``: strict wins
    count 2, ties 1 (the standard ½ credit) — all exact integers, no
    float midranks.  The tie-corrected normal approximation is then

        z = (U − n1·n2/2) / sqrt(n1·n2·(n³−n−Σ(t³−t)) / (12·n·(n−1)))

    with every moment exact in DECIMAL(38,0)/HUGEINT and ONE identical
    float tree at the end (the repo's cross-engine hash idiom).
    DECIMAL(38) holds the n⁵-scale variance numerator to ~3·10⁷ rows;
    beyond that pre-bin the metric.

    Scale shape: one groupBy(value) histogram (map-side combine), one
    scalable two-pass prefix sum over the distinct-value frame
    (`_u2_frame` — no unpartitioned window), one scalar aggregate.  The
    corpus is never range-shuffled, only its value histogram."""
    pref, u2 = _u2_frame(
        df, treated_col, value_col, F.count(F.lit(1)).cast("long").alias("_cnt")
    )
    t3 = (
        F.col("_cnt").cast(_DEC) * F.col("_cnt").cast(_DEC) * F.col("_cnt").cast(_DEC)
        - F.col("_cnt").cast(_DEC)
    )
    tot = pref.agg(
        F.sum(F.col("_np")).cast(_DEC).alias("n1"),
        F.sum(F.col("_nn")).cast(_DEC).alias("n2"),
        F.sum(u2).alias("u2"),
        F.sum(t3).alias("ties"),
    )
    n = F.col("n1") + F.col("n2")
    one = F.lit(1).cast(_DEC)
    var_num = F.col("n1") * F.col("n2") * ((n + one) * n * (n - one) - F.col("ties"))
    var_den = F.lit(12).cast(_DEC) * n * (n - one)
    z = (
        (F.col("u2") - F.col("n1") * F.col("n2")).cast("double") / F.lit(2.0)
    ) * F.sqrt(var_den.cast("double") / var_num.cast("double"))
    return (
        tot.where((F.col("n1") > 0) & (F.col("n2") > 0) & (var_num > 0))
        .select(
            F.col("n1").cast("long").alias("n_treatment"),
            F.col("n2").cast("long").alias("n_control"),
            F.col("u2").cast("long").alias("u2_treatment"),
            F.floor(F.lit(1_000_000.0) * z).cast("long").alias("z_micro"),
        )
    )


def gains_table(
    scored: DataFrame,
    k: int = 10,
    is_pos_col: str = "is_pos",
    score_col: str = "score",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cumulative-gains (capture-rate) table: rank by score descending,
    cut into k equal buckets (`rank.ntile_scalable` — (score desc, id)
    is a total order so the bucketing is engine-exact), and report per
    bucket n, n_pos, cumulative positives, and capture permille.  The
    cumulative window runs over k rows only — aggregate-bounded."""
    from pyspark.sql import Window

    from .rank import ntile_scalable

    t = scored.withColumn("_negs", -F.col(score_col))
    bucketed = ntile_scalable(t, ["_negs", id_col], k, "bucket")
    per = bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(is_pos_col).cast("long").alias("n_pos"),
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    total = per.agg(F.sum("n_pos").alias("_t"))
    return (
        per.withColumn("cum_pos", F.sum("n_pos").over(w).cast("long"))
        .crossJoin(F.broadcast(total))
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            "n", "n_pos", "cum_pos",
            F.expr("CAST(cum_pos * 1000 DIV _t AS BIGINT)").alias(
                "capture_permille"
            ),
        )
    )


def kfold_centroid_cv(
    df: DataFrame,
    folds: int = 5,
    label_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1_000_000,
    salt: str = "cv",
) -> DataFrame:
    """Per-fold held-out accuracy of the nearest-centroid classifier:
    (fold, n, n_correct, acc_permille).

    Folds are the deterministic md5-permille split (`operators/split.
    hash_permille` DIV (1000/folds)) — a pure function of row identity,
    so the assignment is rerun- and reshard-stable and the DuckDB twin
    reproduces it row-for-row.  Leave-one-fold-out centroids come from
    ONE pass: per-(fold,label,pos) integer sums (F·L·dim rows), train
    sums = total − fold in driver Python (exact big ints).  Scoring is
    then ONE map-only corpus pass: a when() chain on the fold tag picks
    each row's own leave-one-out literal centroid argmax, so no fold
    re-scans the corpus."""
    from .split import hash_permille

    if 1000 % folds:
        raise ValueError("folds must divide 1000 for an exact permille split")
    width = 1000 // folds
    tagged = df.withColumn(
        "_fold", (hash_permille(F.col(id_col), salt) / F.lit(width)).cast("int")
    )
    flat = tagged.select(
        "_fold",
        F.col(label_col).alias("c_label"),
        F.posexplode(_quantized(vec_col, scale)).alias("pos", "c"),
    )
    per_fold = {
        (int(r["_fold"]), int(r["c_label"]), int(r["pos"])): int(r["s"])
        for r in flat.groupBy("_fold", "c_label", "pos")
        .agg(F.sum("c").alias("s"))
        .collect()
    }
    labels = sorted({k[1] for k in per_fold})
    dims = sorted({k[2] for k in per_fold})
    totals = {
        (l, p): sum(per_fold.get((f, l, p), 0) for f in range(folds))
        for l in labels
        for p in dims
    }
    # ONE corpus pass: each fold's leave-one-out centroids become a
    # literal argmax expression, selected per row by a when() chain on
    # the fold tag — a row evaluates only its own fold's L dot products,
    # so the work matches the per-fold-filter plan without re-scanning
    # the corpus F times.
    dim = 1 + max(dims)
    qv = _quantized(vec_col, scale)

    def fold_pred(f: int) -> F.Column:
        scored = []
        for lbl in labels:
            svec = [totals[(lbl, p)] - per_fold.get((f, lbl, p), 0)
                    for p in range(dim)]
            n2 = float(sum(c * c for c in svec))
            if n2 == 0.0:
                # a label with zero training rows in this fold's
                # complement cannot be predicted: score would be 0/0 =
                # NaN, and NaN outranks every real double in array_max.
                # The oracle excludes the same labels via n2 > 0.
                continue
            lit = F.array(*[F.lit(c) for c in svec])
            d = F.aggregate(
                F.zip_with(qv, lit, lambda a, b: a.cast(_DEC) * b.cast(_DEC)),
                F.lit(0).cast(_DEC),
                lambda acc, x: acc + x,
            )
            score = d.cast("double") / F.sqrt(F.lit(n2))
            scored.append(
                F.struct(score.alias("s"), F.lit(-lbl).cast("long").alias("nl"))
            )
        return -F.array_max(F.array(*scored))["nl"]

    pred = None
    for f in range(folds):
        pred = (
            F.when(F.col("_fold") == f, fold_pred(f))
            if pred is None
            else pred.when(F.col("_fold") == f, fold_pred(f))
        )
    per = (
        tagged.withColumn("_pred", pred)
        .groupBy(F.col("_fold").cast("long").alias("fold"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum((F.col("_pred") == F.col(label_col)).cast("long"))
            .cast("long")
            .alias("n_correct"),
        )
    )
    return per.select(
        "fold", "n", "n_correct",
        F.expr("CAST(n_correct * 1000 DIV n AS BIGINT)").alias("acc_permille"),
    )
