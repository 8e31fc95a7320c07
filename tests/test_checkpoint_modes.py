"""Reliable-vs-local checkpoint modes for the iterative operators.

``checkpoint_mode="reliable"`` must produce byte-identical results to the
default executor-resident ``localCheckpoint`` path while writing its round
tables to ``sparkContext.setCheckpointDir`` (survivable on preemptible
clusters). kmeans needs no knob: its only cross-iteration state is the k
centroid rows held on the driver.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from kafkasparkstream_spark.operators.dedup import connected_components
from kafkasparkstream_spark.operators.graph import pagerank


def _edges(spark):
    # two components: a 4-cycle and a 3-chain, plus an isolated pair
    pairs = [(1, 2), (2, 3), (3, 4), (4, 1), (10, 11), (11, 12), (20, 21)]
    return spark.createDataFrame(pairs, ["doc_a", "doc_b"])


def test_reliable_requires_checkpoint_dir(spark):
    # runs before the fixture below ever sets a dir on the shared session
    if not spark.sparkContext._jsc.sc().checkpointDir().isEmpty():
        pytest.skip("session already has a checkpoint dir")
    with pytest.raises(ValueError, match="setCheckpointDir"):
        connected_components(_edges(spark), checkpoint_mode="reliable").collect()


def test_bad_mode_rejected(spark):
    with pytest.raises(ValueError, match="checkpoint_mode"):
        connected_components(_edges(spark), checkpoint_mode="hdfs")


def test_pagerank_rejects_zero_iterations(spark):
    # with no round there is no checkpointed rank table to return: the
    # ranks would read the node table's blocks, which pagerank frees
    e = _edges(spark).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    with pytest.raises(ValueError, match="iterations"):
        pagerank(e, e.select(F.col("src").alias("vec_id")), iterations=0)


@pytest.fixture()
def ckpt_dir(spark):
    d = tempfile.mkdtemp(prefix="kss_ckpt_")
    spark.sparkContext.setCheckpointDir(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_connected_components_reliable_matches_local(spark, ckpt_dir):
    e = _edges(spark)
    local = sorted(map(tuple, connected_components(e).collect()))
    rel = sorted(
        map(tuple, connected_components(e, checkpoint_mode="reliable").collect())
    )
    assert rel == local
    assert local  # non-empty sanity


def test_pagerank_reliable_matches_local(spark, ckpt_dir):
    e = _edges(spark).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    nodes = (
        e.select(F.col("src").alias("vec_id"))
        .union(e.select(F.col("dst").alias("vec_id")))
        .distinct()
    )
    local = sorted(map(tuple, pagerank(e, nodes, iterations=5).collect()))
    rel = sorted(
        map(
            tuple,
            pagerank(e, nodes, iterations=5, checkpoint_mode="reliable").collect(),
        )
    )
    assert rel == local
    assert local
