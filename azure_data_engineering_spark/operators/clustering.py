"""Connected components over candidate-pair edges — duplicate-cluster
resolution for a training-data pipeline (SURVEY.md §2B "LLM-pipeline
extensions").

Near-dup detection (dedup.py: MinHash/SimHash/Jaccard) emits PAIRS;
deciding what to keep needs CLUSTERS — the transitive closure of the
pair graph, labeled by each component's minimum node id (the canonical
survivor, matching exact_dedup's min-id convention).

Algorithm: iterative min-label propagation — every node repeatedly
takes the minimum label among itself and its neighbors until a
fixpoint. Each round is one join + one aggregation (shuffles on node
id); rounds needed = graph diameter, and near-dup graphs are
shallow (tight clusters), so a handful of rounds suffices. The loop is
driver-CONTROLLED (each round's label step carries a `changed` flag,
and one isEmpty on the checkpointed step detects the fixpoint) but never
driver-MATERIALIZED — labels stay distributed; lineage is truncated
every round with localCheckpoint so the plan doesn't grow with
iterations (the standard Spark iterative-algorithm pattern; cf.
Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14 — hash-to-min).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: DataFrame | None = None,
    max_iter: int = 25,
) -> DataFrame:
    """Label each node with min(node id) of its connected component.

    edges: undirected pair list (each pair listed once is enough).
    nodes: optional one-column frame of all node ids — include it so
    isolated nodes (no edges) appear as singleton components.
    Returns (node, component); raises if max_iter rounds don't reach
    the fixpoint (pathologically deep graph — raise max_iter).
    """
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint()
    )
    node_ids = und.select(F.col("a").alias("node"))
    if nodes is not None:
        first = nodes.columns[0]
        node_ids = node_ids.union(nodes.select(F.col(first).alias("node")))
    labels = node_ids.distinct().withColumn("component", F.col("node")).localCheckpoint()

    for _ in range(max_iter):
        # each node's candidate label: min over neighbors' labels
        nbr_min = (
            und.join(labels, und["b"] == labels["node"])
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("component").alias("nbr_component"))
        )
        nbr = F.col("nbr_component")
        step = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(F.col("component"), F.coalesce(nbr, F.col("component"))).alias("component"),
                F.coalesce(nbr < F.col("component"), F.lit(False)).alias("changed"),
            )
            .localCheckpoint()  # truncate lineage; also materializes for the fixpoint check
        )
        labels = step.select("node", "component")
        if step.filter("changed").isEmpty():
            return labels
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def split_by_cluster(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    weights,
    salt: str = "",
    split_col: str = "split",
) -> DataFrame:
    """Leakage-safe dataset split: rows are assigned to train/val/test
    by the HASH OF THEIR NEAR-DUP CLUSTER, not their own id, so two
    near-duplicate documents can never land on opposite sides of a
    train/eval boundary (the classic contamination leak: a test doc's
    near-copy in train). Clusters come from connected_components over
    the candidate `pairs`; singletons are their own cluster and split
    i.i.d. as usual. Returns df + (cluster_id, split).

    Scale: components is the iterative join (lineage-truncated); the
    split itself is one hash expression on the cluster label — no
    extra shuffle beyond the component join-back."""
    from azure_data_engineering_spark.operators.sampling import split_assign

    comp = connected_components(pairs, "id_a", "id_b", nodes=df.select(F.col(id_col)))
    labeled = df.join(
        comp.select(F.col("node").alias(id_col), F.col("component").alias("cluster_id")),
        [id_col],
    )
    return split_assign(labeled, "cluster_id", weights, salt=salt, split_col=split_col)
