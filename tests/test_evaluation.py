"""Evaluation operators: exact AUC pair counting, gains deciles,
k-fold partition discipline."""

import pyspark.sql.functions as F
import pytest
from conftest import shuffle_partitions


@pytest.fixture(scope="module")
def spark():
    from uw_mapreduce_spark.session import get_spark

    return get_spark(app_name="eval-tests", master="local[4]", shuffle_partitions=8)


def _scored(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, is_pos long, score double")


def test_auc_perfect_and_reversed(spark):
    from uw_mapreduce_spark.operators.evaluation import roc_auc

    perfect = _scored(
        spark, [(1, 1, 0.9), (2, 1, 0.8), (3, 0, 0.2), (4, 0, 0.1)]
    )
    with shuffle_partitions(spark, 4):
        out = roc_auc(perfect)
    r = out.collect()[0]
    assert (r["n_pos"], r["n_neg"], r["auc_micro"]) == (2, 2, 1_000_000)

    reverse = _scored(
        spark, [(1, 0, 0.9), (2, 0, 0.8), (3, 1, 0.2), (4, 1, 0.1)]
    )
    with shuffle_partitions(spark, 4):
        out = roc_auc(reverse)
    assert out.collect()[0]["auc_micro"] == 0


def test_auc_ties_half_credit(spark):
    """All scores equal -> every pos/neg pair ties -> AUC exactly 0.5."""
    from uw_mapreduce_spark.operators.evaluation import roc_auc

    tied = _scored(spark, [(i, i % 2, 0.5) for i in range(10)])
    with shuffle_partitions(spark, 4):
        out = roc_auc(tied)
    r = out.collect()[0]
    assert r["auc_micro"] == 500_000
    # num2 = 2*U = n_pos*n_neg when every pair ties
    assert r["num2"] == r["n_pos"] * r["n_neg"]


def test_auc_matches_bruteforce_pairs(spark):
    from uw_mapreduce_spark.operators.evaluation import roc_auc

    rows = [
        (1, 1, 0.9), (2, 0, 0.9), (3, 1, 0.7), (4, 0, 0.6),
        (5, 1, 0.6), (6, 0, 0.3), (7, 0, 0.2), (8, 1, 0.1),
    ]
    num2 = sum(
        2 if sp > sn else (1 if sp == sn else 0)
        for _, lp, sp in rows if lp
        for _, ln, sn in rows if not ln
    )
    with shuffle_partitions(spark, 4):
        out = roc_auc(_scored(spark, rows))
    r = out.collect()[0]
    assert r["num2"] == num2
    assert r["auc_micro"] == num2 * 1_000_000 // (2 * r["n_pos"] * r["n_neg"])


def test_gains_table_totals(spark):
    from uw_mapreduce_spark.operators.evaluation import gains_table

    rows = [(i, 1 if i < 30 else 0, 1000.0 - i) for i in range(100)]
    out = gains_table(_scored(spark, rows), k=10).orderBy("bucket").collect()
    assert [r["n"] for r in out] == [10] * 10
    # positives are the 30 best-scored rows -> captured by buckets 1-3
    assert [r["n_pos"] for r in out[:3]] == [10, 10, 10]
    assert out[2]["capture_permille"] == 1000
    assert out[-1]["cum_pos"] == 30


def test_kfold_partitions_and_determinism(spark):
    from uw_mapreduce_spark.operators.evaluation import kfold_centroid_cv
    from uw_mapreduce_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = kfold_centroid_cv(emb, folds=5).orderBy("fold").collect()
    assert [r["fold"] for r in out] == [0, 1, 2, 3, 4]
    assert sum(r["n"] for r in out) == emb.count()
    for r in out:
        assert 0 <= r["n_correct"] <= r["n"]
        assert r["acc_permille"] == r["n_correct"] * 1000 // r["n"]
    again = kfold_centroid_cv(emb, folds=5).orderBy("fold").collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in out]
