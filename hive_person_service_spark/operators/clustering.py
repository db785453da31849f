"""Connected components over near-duplicate pairs -> dedup groups.

A dedup pipeline ends with GROUPS, not pairs: if A~B and B~C, all three
form one cluster and one canonical representative survives. This is
small-diameter connected components via iterative minimum-label
propagation -- each round, every node adopts the smallest id reachable in
one hop; near-dup clusters are tiny (duplicates of one document), so
convergence takes O(cluster diameter) rounds, not O(graph size).

Scale: the undirected distinct edge list is built once and
localCheckpoint()ed, so every round plans over a small RDD scan, never
over the plan that produced the pairs (typically the whole LSH
pipeline). Each round is one groupBy over it (shuffle on node id), and
its labels are localCheckpoint()ed so 10 rounds don't build a 10-deep
recursive plan. A round releases the checkpoint it replaces and the loop
releases the edge list, so a call leaves one checkpoint behind: the
final labels the returned plan reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def _release(checkpointed: DataFrame) -> None:
    """Drop the blocks of a localCheckpoint()ed relation now instead of
    when the JVM next collects its garbage."""
    checkpointed._jdf.queryExecution().logical().rdd().unpersist(False)


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 10,
) -> DataFrame:
    """(node, component) for every node in the pair list; component = the
    smallest node id in its connected component. Raises if not converged
    within max_iterations (a near-dup graph that deep means the threshold
    is too loose, not that more iterations are needed)."""
    edges = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(pairs.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint()
    )
    try:
        node_t = edges.schema["a"].dataType
        if edges.isEmpty():
            return edges.sparkSession.createDataFrame(
                [], StructType([StructField("node", node_t), StructField("comp", node_t)])
            )
        labels = (
            edges.groupBy("a").agg(F.least(F.min("b"), F.first("a")).alias("comp"))
            .select(F.col("a").alias("node"), "comp")
        )
        checkpoint = None
        for _ in range(max_iterations):
            # every node adopts min(own label, neighbors' labels); the node's
            # PREVIOUS label rides along (the own-row carries it, neighbor
            # rows carry null, max() recovers the single non-null value), so
            # the convergence probe is a filter over the checkpointed result
            # instead of a join against the old labels -- the graph_wcc
            # discipline (r12: was a per-round join + broadcast build, ~8
            # jobs/round; now checkpoint + probe, identical labels)
            neighbor_labels = (
                edges.join(labels, edges["b"] == labels["node"])
                .select(
                    edges["a"].alias("node"),
                    F.col("comp"),
                    F.lit(None).cast(node_t).alias("prev"),
                )
            )
            own = labels.select("node", "comp", F.col("comp").alias("prev"))
            new_labels = (
                own.unionByName(neighbor_labels)
                .groupBy("node")
                .agg(F.min("comp").alias("comp"), F.max("prev").alias("prev"))
                .localCheckpoint()
            )
            if checkpoint is not None:
                _release(checkpoint)
            checkpoint = new_labels
            changed = (
                new_labels.where(F.col("comp") != F.col("prev")).limit(1).count()
            )
            labels = new_labels.select("node", "comp")
            if changed == 0:
                return labels
    finally:
        _release(edges)
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds"
    )


def dedup_groups(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Collapse near-dup pairs into groups: every doc mapped to its
    canonical (smallest-id) representative; docs in no pair map to
    themselves (an empty pair list gives empty labels, so every doc).
    ``keep = (doc_id == canon)`` marks survivors.

    ``pairs`` is read once, by connected_components' edge-list
    checkpoint; near_duplicates_minhash returns them persisted, so a
    caller that already collected them does not re-run the LSH pipeline.
    On the benchmark's llm_curation pass (perfbench/, traced seed 7) this
    runs 13 Spark jobs, against 26 when it re-ran the pipeline."""
    comp = connected_components(pairs)
    return (
        docs.join(comp, docs[id_col] == comp["node"], "left")
        .select(
            docs[id_col],
            F.coalesce(F.col("comp"), docs[id_col]).alias("canon"),
        )
        .withColumn("keep", F.col(id_col) == F.col("canon"))
    )
