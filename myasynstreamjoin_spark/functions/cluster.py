"""Connected components over a pair/edge list — the step that turns
near-duplicate PAIRS (minhash/jaccard/embedding, functions/dedup.py and
similarity.py) into dedup CLUSTERS, so a pipeline can keep one survivor
per group of transitively-linked documents.

Iterative min-label propagation: every node repeatedly adopts the
smallest label among itself and its neighbors; fixpoint = components.
Rounds scale with component diameter — the right trade for dedup
graphs, whose components are small and dense (a near-dup cluster of a
document is a clique-ish blob, diameter 2-3). For adversarially long
chains the literature's large-star/small-star alternation (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14) gets
O(log n) rounds; deliberately not implemented until a workload needs
it.

Round structure (every checkpoint is an eager action at call time):

- **Edges.** The symmetric edge list (each pair in both directions) is
  localCheckpoint-ed once as the static per-round probe side. No
  ``distinct``: a repeated edge offers the same neighbor label twice,
  and the min does not change.
- **Seed.** The first labels are one aggregation over those edges,
  ``least(a, min(b))`` grouped by ``a`` — every node's smallest
  neighbor-or-self id. That is what the first join round from identity
  labels would compute, without the identity ``distinct`` or the join.
  It is not materialized on its own: the first round reads it inside
  its own job.
- **Rounds.** Each round joins the labels to the edges, takes the min
  label per node and ends in ``localCheckpoint(eager)`` — without it
  the lineage doubles per round and the driver re-plans an
  exponentially growing DAG. The node's previous label rides the same
  aggregation (one self row per node), and an ``Observation`` on the
  checkpoint job counts the labels that changed: convergence is read
  off the job the round runs anyway, not a separate count job.
  ``max_iter`` counts these rounds, after the seed.
- **Releases.** Under the context's batch lock (blocks.py), round i's
  checkpoint is released once round i+1's exists, and the edge
  checkpoint once the last round's exists. The call returns with
  exactly one persisted RDD of its own, the returned label checkpoint;
  the CALLER releases it once the output is consumed (e.g. through
  ``blocks.batch_scope`` or a ``persisted_ids``/``release_blocks``
  pair). On failure, everything the call persisted is released.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iter: int = 25,
) -> DataFrame:
    """Label every node reachable through ``edges`` with the smallest
    node id in its component. Output: (node, component).

    Eager: the seed and every round run at call time, and the result
    is a checkpoint the caller releases (see the module docstring).

    Raises RuntimeError if ``max_iter`` join rounds after the seed
    don't converge — a signal the graph needs the log-round variant,
    never silently wrong labels.
    """
    from myasynstreamjoin_spark.blocks import (
        batch_lock,
        persisted_ids,
        release_ids,
    )

    spark = edges.sparkSession
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    with batch_lock(spark):
        base = persisted_ids(spark)
        try:
            sym = e.union(
                e.select(F.col("b").alias("a"), F.col("a").alias("b"))
            ).localCheckpoint(eager=True)  # static per-round probe side
            edge_ids = persisted_ids(spark) - base
            labels = sym.groupBy("a").agg(
                F.least(F.col("a"), F.min("b")).alias("label")
            )
            label_t = labels.schema["label"].dataType
            prev: set[int] = set()
            for _ in range(max_iter):
                self_rows = labels.select(
                    "a", "label", F.col("label").alias("__self")
                )
                nbr = sym.join(labels, on="a").select(
                    F.col("b").alias("a"),
                    "label",
                    F.lit(None).cast(label_t).alias("__self"),
                )
                obs = Observation()
                pre = persisted_ids(spark)
                new = (
                    self_rows.unionByName(nbr)
                    .groupBy("a")
                    .agg(
                        F.min("label").alias("label"),
                        F.min("__self").alias("__old"),
                    )
                    .observe(
                        obs,
                        F.count_if(F.col("label") != F.col("__old"))
                        .alias("changed"),
                    )
                    .localCheckpoint(eager=True)
                )
                # the new round materialized — the previous round's
                # blocks are unreferenced now
                release_ids(spark, prev)
                prev = persisted_ids(spark) - pre
                labels = new.select("a", "label")
                if obs.get["changed"] == 0:
                    release_ids(spark, edge_ids)
                    return labels.select(F.col("a").alias("node"),
                                         F.col("label").alias("component"))
            raise RuntimeError(
                f"connected_components: no fixpoint in {max_iter} rounds"
            )
        except BaseException:
            release_ids(spark, persisted_ids(spark) - base)
            raise


def dedup_survivors(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    quality_col: str = "n_chars",
) -> DataFrame:
    """Canonicalization: collapse each near-dup cluster to ONE surviving
    document and pass unclustered documents through — the final step of
    the dedup pipeline (pairs → components → survivors), producing the
    actual training corpus.

    Representative rule, deterministic and engine-portable: highest
    ``quality_col`` wins, ties broken by smallest ``id_col`` — a window
    rank, identical semantics in any SQL engine, so the oracle can
    replay the selection exactly (no arg_max tie ambiguity).

    Scale shape: the window partitions by cluster (dedup clusters are
    small blobs — no skew concern), the pass-through side is a
    left-anti join on the cluster membership table, which at 100 TB is
    orders of magnitude smaller than the corpus (only docs with ≥1
    near-dup edge appear in it).

    Output: (doc_id, quality_col, is_cluster_rep) — one row per
    surviving document.
    """
    from pyspark.sql import Window

    member = clusters.select(id_col, "cluster")
    scored = member.join(docs.select(id_col, quality_col), id_col)
    w = Window.partitionBy("cluster").orderBy(
        F.desc(quality_col), F.asc(id_col)
    )
    reps = (
        scored.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") == 1)
        .select(id_col, quality_col, F.lit(True).alias("is_cluster_rep"))
    )
    singles = docs.join(member, id_col, "left_anti").select(
        id_col, quality_col, F.lit(False).alias("is_cluster_rep")
    )
    return singles.unionByName(reps)


def cluster_split(
    docs: DataFrame,
    clusters: DataFrame,
    splits: dict[str, float] | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Leakage-free train/val/test split: the assignment unit is the
    near-dup CLUSTER, not the document — two near-duplicates can never
    land in different splits, so the test set cannot leak into training
    through paraphrase-level copies (the contamination mode document-
    level hash splits miss entirely).

    ``clusters`` is the (doc_id, cluster) membership table from
    ``connected_components``; unclustered docs become singleton
    clusters labeled by their own id. Assignment is the deterministic
    md5-bucket rule of ``hash_split`` applied to the cluster label —
    reproducible, growth-stable (a cluster keeps its split as it gains
    members), and oracle-replayable.

    Scale shape: one left join against the membership table (small —
    only docs with ≥1 near-dup edge) plus a scan-stage projection; no
    extra shuffle beyond the join.

    Output: (doc_id, cluster, split).
    """
    from myasynstreamjoin_spark.functions.pipeline import hash_split

    labeled = (
        docs.select(id_col)
        .join(clusters.select(id_col, "cluster"), id_col, "left")
        .select(
            id_col,
            F.coalesce("cluster", F.col(id_col)).alias("cluster"),
        )
    )
    return hash_split(
        labeled,
        "cluster",
        splits or {"train": 0.8, "val": 0.1, "test": 0.1},
    ).select(id_col, "cluster", "split")
