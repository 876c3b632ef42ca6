"""Face-level partitioning invariance: the scalable two-pass plans
(deterministic borders + offsets) must produce IDENTICAL results under
different shuffle-partition settings — hidden dependence on partition
count is the classic way a 'scalable' rank/prefix path goes wrong."""

import pytest
from conftest import shuffle_partitions

SF = "/root/testdata/sf0.001"

FACES = [
    "global_rank_scalable_events",
    "sliding_sum_91_scalable",
    "rfm_segmentation_customers",
    "roc_auc_embeddings",
    "gains_deciles_embeddings",
    "running_revenue_global",
    "heavy_hitters_trigrams_documents",
]


@pytest.fixture(scope="module")
def spark():
    from uw_mapreduce_spark.session import get_spark

    return get_spark(
        app_name="part-invariance", master="local[4]", shuffle_partitions=8
    )


@pytest.mark.parametrize("face", FACES)
def test_result_invariant_to_shuffle_partitions(spark, face):
    import __spark_entry__ as e

    qs = e.queries()

    def run(parts):
        with shuffle_partitions(spark, parts):
            return sorted(
                tuple(str(v) for v in row) for row in qs[face](spark, SF).collect()
            )

    assert run(3) == run(16), face
