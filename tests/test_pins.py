"""Pins are never leaked: every intermediate an operator or query pins,
including the checkpoints behind frames it hands back, is gone from the
JVM's persistent-RDD registry once the result was collected and
``release_pinned_indexes()`` ran."""

import pytest

import biosets_spark.queries.wave21  # noqa: F401  (registers the wave)
from biosets_spark import release_pinned_indexes
from biosets_spark.operators.graph import connected_components
from biosets_spark.operators.similarity import embedding_dup_pairs
from biosets_spark.queries import QUERIES
from tests.conftest import SF_SMOKE


def _distributed_components(spark):
    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (7, 8)], "id_a long, id_b long")
    return connected_components(pairs, small_graph_threshold=0)


def _single_block_embedding_pairs(spark):
    rows = [(i, [float(i), 1.0, 0.0]) for i in range(8)] + [(8, [0.0, 1.0, 0.001])]
    return embedding_dup_pairs(
        spark.createDataFrame(rows, "vec_id long, embedding array<float>"), threshold=0.99)


def _lazy_query_checkpoint(spark):
    return QUERIES["q_triangle_count"].fn(spark, SF_SMOKE)


@pytest.mark.parametrize(
    "build", [_distributed_components, _single_block_embedding_pairs, _lazy_query_checkpoint],
    ids=["connected_components", "embedding_dup_pairs", "q_triangle_count"])
def test_release_frees_every_pin_behind_a_result(spark, build):
    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    release_pinned_indexes()  # drain pins from earlier tests
    # delta-based: RDDs that earlier tests left to GC cleanup may vanish
    # meanwhile; what matters is that nothing pinned here survives
    before = persistent()
    assert build(spark).collect()
    assert persistent() - before  # the result was backed by a pin
    release_pinned_indexes()
    assert persistent() - before == set()
