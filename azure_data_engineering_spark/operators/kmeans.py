"""Fully-distributed Lloyd k-means over embedding columns.

The third iterative fixed-point in the engine (with connected
components and PageRank): unlike operators/ivf.train_centroids —
which runs numpy Lloyd on a bounded driver-side SAMPLE because IVF
only needs approximate cells — this is the full Lloyd training loop
run distributed end to end: the corpus never leaves executors and the
only driver-resident state is the query plan. In curation pipelines
this is the clustering that SemDeDup / diversity-sampling stacks run
over billions of embeddings.

Iteration discipline (same as graph.pagerank):
- centroids are a k x dim ROW SET (cid, pos, c), not literals — each
  round is one broadcast join (dims of every vector against dims of
  every centroid, keyed on pos), one (id, cid) distance aggregation
  with map-side partial sums, one argmin, one (cid, pos) mean — all
  whole-stage codegen, shuffles linear in n*k;
- localCheckpoint(eager) on the (tiny) centroid frame per round
  truncates lineage;
- FIXED iterations + per-round centroid rounding make the whole run
  a deterministic algebraic function of the input, so the oracle
  unrolls the same rounds as chained SQL CTEs. Rounding (6 dp) also
  pins centroids to identical doubles across engines, preventing
  accumulation-order drift from compounding across rounds.

Init is deterministic: the k vectors with the smallest ids. Empty
clusters simply drop out of the next round (both engines agree,
since the update derives centroids only from assigned members).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def lloyd_kmeans(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    k: int = 8,
    iterations: int = 3,
    round_decimals: int = 6,
) -> DataFrame:
    """Run `iterations` Lloyd rounds; return the final assignment
    (id, cid, dist) with dist = squared euclidean distance to the
    assigned centroid, rounded to round_decimals.

    The dim-exploded input is re-derived from the source per round
    (2 consumers x iterations) — a deliberate recompute-over-persist
    default since the scan is a single projected parquet column;
    callers looping many iterations over slow storage should
    .persist() the input DataFrame first."""
    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    ex = base.select("id", F.posexplode("v").alias("pos", "x"))
    # deterministic init: the k smallest ids become centroids 0..k-1
    # (the global row_number window runs over exactly k rows — bounded
    # by construction, not by data size)
    init_ids = (
        base.select("id")
        .orderBy("id")
        .limit(k)
        .withColumn("cid", F.row_number().over(Window.orderBy("id")) - 1)
    )
    cents = (
        ex.join(F.broadcast(init_ids), "id")
        .select("cid", "pos", F.round(F.col("x"), round_decimals).alias("c"))
        .localCheckpoint(eager=True)
    )
    for _ in range(iterations):
        # round BEFORE the argmin struct: partial-agg accumulation order
        # can differ across partitions/engines at the ulp level, and an
        # unrounded double in the min-struct key would let that flip the
        # assignment of near-equidistant points (cross-engine flake).
        dists = (
            ex.join(F.broadcast(cents), "pos")
            .groupBy("id", "cid")
            .agg(
                F.round(
                    F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))),
                    round_decimals,
                ).alias("dist")
            )
        )
        assigned = (
            dists.groupBy("id")
            .agg(F.min(F.struct(F.col("dist"), F.col("cid"))).alias("best"))
            .select("id", F.col("best.cid").alias("cid"), F.col("best.dist").alias("dist"))
        )
        cents = (
            ex.join(assigned.select("id", "cid"), "id")
            .groupBy("cid", "pos")
            .agg(F.round(F.avg("x"), round_decimals).alias("c"))
            # lazy (r12): materializes inside the next consumer job
            .localCheckpoint(eager=False)
        )
    final = (
        ex.join(F.broadcast(cents), "pos")
        .groupBy("id", "cid")
        .agg(
            F.round(
                F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))),
                round_decimals,
            ).alias("dist")
        )
        .groupBy("id")
        .agg(F.min(F.struct(F.col("dist"), F.col("cid"))).alias("best"))
        .select(
            "id",
            F.col("best.cid").cast("long").alias("cid"),
            F.col("best.dist").alias("dist"),
        )
    )
    return final
