"""connected_components: known topologies — a chain (tests multi-round
propagation), a separate triangle, an isolated edge — with and without
repeated and reversed edges, the convergence guard, and the blocks a
call leaves persisted."""

from __future__ import annotations

import pytest

from myasynstreamjoin_spark.blocks import batch_lock, persisted_ids, release_ids
from myasynstreamjoin_spark.functions.cluster import connected_components

TOPOLOGY_EDGES = [
    # chain 1-2-3-4-5: min label must travel 4 hops
    (2, 1), (2, 3), (3, 4), (5, 4),
    # triangle 10-11-12 with a redundant edge
    (10, 11), (11, 12), (10, 12),
    # isolated edge
    (100, 101),
]


def test_components_topologies(spark):
    # The edge list is not deduplicated, so the same topology must come
    # out when edges repeat, in either direction.
    repeated = TOPOLOGY_EDGES + [(1, 2), (2, 1), (4, 3), (12, 10), (100, 101)]
    for rows in (TOPOLOGY_EDGES, repeated, repeated + repeated):
        edges = spark.createDataFrame(rows, "x long, y long")
        out = connected_components(edges, src="x", dst="y")
        got = {r["node"]: r["component"] for r in out.collect()}
        assert got == {
            1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
            10: 10, 11: 10, 12: 10,
            100: 100, 101: 100,
        }, rows


def test_components_release_their_blocks(spark):
    """A call keeps exactly one persisted RDD: the returned label
    checkpoint. The edge checkpoint and every earlier round's labels
    are released inside the call, and so is everything on failure."""
    edges = spark.createDataFrame(TOPOLOGY_EDGES, "x long, y long")
    before = persisted_ids(spark)
    out = connected_components(edges, src="x", dst="y")
    assert len(out.collect()) == 10
    kept = persisted_ids(spark) - before
    assert len(kept) == 1
    with batch_lock(spark):
        release_ids(spark, kept)

    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(edges, src="x", dst="y", max_iter=1)
    # nothing new is left; a subset, not equality, because the context
    # cleaner may retire older blocks meanwhile
    assert persisted_ids(spark) <= before


def test_components_nonconvergence_raises(spark):
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "x long, y long")
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(edges, src="x", dst="y", max_iter=1)


def test_cluster_split_no_leakage(spark):
    """Every member of a cluster gets the cluster's split; singletons
    split by their own id; fractions roughly honored."""
    from myasynstreamjoin_spark.functions.cluster import cluster_split
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long"
    )
    # clusters: {0..4}→0, {10,11}→10
    members = [(i, 0) for i in range(5)] + [(10, 10), (11, 10)]
    cc = spark.createDataFrame(members, "doc_id long, cluster long")
    out = cluster_split(docs, cc)
    per_cluster = (
        out.groupBy("cluster")
        .agg(F.countDistinct("split").alias("k"))
        .where(F.col("k") > 1)
        .count()
    )
    assert per_cluster == 0
    assert out.count() == 200
    splits = {r.split for r in out.select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"}
    assert "train" in splits
