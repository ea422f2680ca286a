"""Connected components over a pair table (duplicate-cluster assembly).

The missing last step of every dedup pipeline: near-dup PAIRS must become
dup CLUSTERS (transitive closure) before a curation pass can keep one
canonical document per cluster. Spark has no built-in connected components;
this is the HashToMin-style label propagation — every node repeatedly
adopts the minimum label among itself and its neighbors until fixpoint.

Scale design: per iteration one shuffle join (edges ⋈ labels on the source
node) + one groupBy(min); iterations = graph diameter, which for dup
clusters is tiny (near-dup relations are dense cliques — diameter 2-3).
Lineage is truncated with localCheckpoint every iteration, otherwise the
plan tree doubles per round and the driver dies planning, not computing.
Convergence is detected with a changed-row count per iteration — one cheap
job on data that never leaves the executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Label every node with the minimum node id in its component (at most
    25 propagation rounds).

    `edges` is an undirected pair table (each pair once, any orientation).
    Returns (node, component) for every node appearing in any edge.
    """
    # materialize the edge list once: it is re-joined every iteration, and
    # its lineage may be an expensive dedup/similarity pipeline that would
    # otherwise be recomputed per round
    sym = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .unionByName(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(25):
        neighbor_min = (
            sym.join(labels, sym.u == labels.node)
            .groupBy(F.col("v").alias("node2"))
            .agg(F.min("label").alias("nlabel"))
        )
        # carry the previous label through the checkpoint so convergence is
        # a filter-count on already-materialized data — no extra join job
        # per iteration
        new_labels = (
            labels.join(neighbor_min, labels.node == F.col("node2"), "left")
            .select(
                "node",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(
            F.col("label") != F.col("old_label")
        ).count()
        labels = new_labels.select("node", "label")
        if changed == 0:
            break
    return labels.select("node", F.col("label").alias("component"))
