"""SemDeDup within-cluster semantic dedup (operators/semdedup.py)."""

from __future__ import annotations

from azure_data_engineering_spark.operators.semdedup import semdedup

# two well-separated 4-d cells
CENTROIDS = [[1.0, 0.0, 0.0, 0.0], [0.0, 0.0, 0.0, 1.0]]


def _df(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


class TestSemDedup:
    def test_exact_copies_collapse_to_min_id(self, spark):
        df = _df(
            spark,
            [
                (1, [1.0, 0.0, 0.0, 0.0]),
                (2, [1.0, 0.0, 0.0, 0.0]),  # copy of 1 -> dropped
                (3, [0.0, 0.0, 0.0, 1.0]),  # other cell, kept
                (4, [0.0, 0.0, 0.0, 1.0]),  # copy of 3 -> dropped
            ],
        )
        kept = sorted(r["id"] for r in semdedup(df, CENTROIDS).collect())
        assert kept == [1, 3]

    def test_dissimilar_rows_all_kept(self, spark):
        df = _df(
            spark,
            [
                (1, [1.0, 0.0, 0.0, 0.0]),
                (2, [0.9, 0.4, 0.0, 0.0]),  # same cell, cosine ~0.91 < 0.99
                (3, [0.0, 0.0, 0.0, 1.0]),
            ],
        )
        kept = sorted(r["id"] for r in semdedup(df, CENTROIDS, threshold=0.99).collect())
        assert kept == [1, 2, 3]

    def test_chain_keeps_only_first(self, spark):
        # 2 dups of 1, and 3 dups of 2 (transitively of 1): only 1 stays
        v = [1.0, 0.0, 0.0, 0.0]
        df = _df(spark, [(1, v), (2, v), (3, v)])
        kept = sorted(r["id"] for r in semdedup(df, CENTROIDS).collect())
        assert kept == [1]

    def test_cross_cluster_dup_not_seen(self, spark):
        # SemDeDup's documented approximation: near-dups split across
        # cells are NOT detected — both survive
        df = _df(
            spark,
            [
                (1, [1.0, 0.0, 0.0, 0.05]),
                (2, [0.05, 0.0, 0.0, 1.0]),  # other cell regardless of content
            ],
        )
        kept = sorted(r["id"] for r in semdedup(df, CENTROIDS).collect())
        assert kept == [1, 2]

    def test_nan_vector_drops_nothing(self, spark):
        # one cell; the NaN vector holds the smallest id. Its cosines are
        # not finite, so it is no one's duplicate: all five rows stay
        df = _df(
            spark,
            [
                (0, [float("nan"), 1.0, 0.0, 0.0]),
                (1, [1.0, 0.0, 0.0, 0.0]),
                (2, [1.0, 1.0, 0.0, 0.0]),
                (3, [1.0, 0.0, 1.0, 0.0]),
                (4, [1.0, 0.0, 0.0, 1.0]),
            ],
        )
        kept = sorted(r["id"] for r in semdedup(df, CENTROIDS[:1]).collect())
        assert kept == [0, 1, 2, 3, 4]
