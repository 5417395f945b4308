"""SemDeDup: semantic deduplication via embedding clustering.

Public method: Abbas et al., "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication" (arXiv 2303.09540). Exact
pairwise cosine over a web-scale corpus is O(n²); SemDeDup first
k-means-clusters the embeddings, then looks for near-duplicate pairs
ONLY inside each cluster — the quadratic term shrinks from n² to
Σ|cluster|², tunable via the cluster count.

Spark-first shape (reusing the IVF machinery in operators/ivf.py):
- centroids: ivf.train_centroids, numpy Lloyd on a bounded id-ordered
  sample — the driver holds nlist×dim floats, never corpus rows;
- assignment: nearest-centroid argmin as a pure codegen expression
  over broadcast literal centroids (no UDF, no shuffle);
- pair search: ONE hash self-join on the cell id — work per cluster
  is |cluster|², never a global cartesian;
- keep rule: a row is dropped iff an EARLIER row (smaller id) in the
  same cluster has cosine ≥ threshold — deterministic, idempotent,
  and independent of partitioning (the paper keeps one arbitrary
  representative per dup group; min-id is the deterministic choice).

Cosines are rounded before the threshold compare so the drop set is
bit-identical across engines and accumulation orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from azure_data_engineering_spark.functions.vectors import _cosine_pairs
from azure_data_engineering_spark.operators.ivf import _nearest_cells


def semdedup(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.99,
    round_digits: int = 6,
) -> DataFrame:
    """Drop semantic near-duplicates within k-means cells.

    Returns the KEPT rows as (id, cell). A row is dropped iff some
    smaller-id row in its cell has rounded cosine ≥ threshold; by
    construction every dropped row has a true near-duplicate that
    survives (its witness is kept or is itself dropped by a yet
    smaller witness, transitively bottoming out at the min id).
    In-cell pairs are scored by the exact Arrow kernel
    (functions/vectors._cosine_pairs); a pair with no finite cosine (a
    NaN component, a null vector) scores null and never matches."""
    assigned = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        _nearest_cells(F.col(vec_col), centroids, 1)[0].alias("cell"),
    )
    earlier = assigned.select(
        F.col("id").alias("e_id"),
        F.col("v").alias("e_v"),
        F.col("cell"),
    )
    dropped = (
        assigned.join(earlier, "cell")
        .filter(F.col("e_id") < F.col("id"))
        .withColumn("cosine", F.round(_cosine_pairs(F.col("v"), F.col("e_v")), round_digits))
        .filter(F.col("cosine") >= threshold)
        .select("id")
        .distinct()
    )
    return assigned.join(dropped, "id", "left_anti").select("id", "cell")
