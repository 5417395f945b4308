"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k (exact). Scale path: random-
hyperplane LSH bucketing (sign-bit sketch) so each query compares only
against its bucket — the standard public ANN recipe (Charikar '02;
Indyk-Motwani '98), expressed as DataFrame ops.

Every exact cosine is scored by the one Arrow-batched numpy kernel in
functions/vectors.py (`_cosine`): all pairs of a driver-collected query
panel against each corpus batch in brute_force_top_k, joined candidate
pairs (`_cosine_pairs`) in the LSH path. Ranking stays in Spark — the
round-then-rank window of _topk_pairs.
"""

from __future__ import annotations

import math

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from azure_data_engineering_spark.functions.vectors import _cosine, _cosine_pairs, _pack

# largest query panel brute_force_top_k collects to the driver
_MAX_QUERIES = 4096


def _topk_pairs(scored: DataFrame, query_id: str, k: int, round_digits: int | None) -> DataFrame:
    """Deterministic per-query top-k: order by (rounded) similarity
    desc, then neighbor id — rounding before ranking keeps the selected
    set stable under float summation-order differences."""
    sim = F.round(F.col("cosine"), round_digits) if round_digits is not None else F.col("cosine")
    w = Window.partitionBy(query_id).orderBy(sim.desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("cosine", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def brute_force_top_k(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_digits: int | None = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.
    Returns (query_id, neighbor_id, cosine, rank); ids keep their input
    type, a query never neighbours a row with its own id.

    The query panel (at most _MAX_QUERIES rows, else ValueError — cap
    it with a hash sample) is collected driver-side and closure-
    broadcast into a mapInPandas over the corpus, which never moves.
    Each corpus batch scores against the whole panel in one call of the
    vectors._cosine kernel, so cosines are bit-identical to
    functions/vectors.cosine_similarity; a null or NaN score (null
    vector, length mismatch, NaN component) ranks after every scored
    neighbour.

    PER-BATCH TOP-K PRUNING: each batch keeps, per query, only rows
    whose raw cosine is within 2·10^-round_digits of the batch's k-th
    largest raw cosine (null scores count as -inf, so a null row
    survives only when its batch has fewer than k scored candidates).
    This is provably output-identical to emitting everything: Spark's
    global ranker orders by (round(cos, d) desc, neighbor_id asc), and
    round(v) ∈ [v − 0.5·10^-d, v + 0.5·10^-d], so a dropped row
    (raw < kth_raw − 2·10^-d) has rounded value STRICTLY below the
    rounded values of ≥ k kept batch rows — it can never enter any
    top-k that the kept rows contend for. Emitted volume drops from
    |Q|·batch to ≈ |Q|·k per batch, and the round-then-rank window
    stays the single source of ranking truth."""
    import numpy as np
    import pandas as pd

    q_rows = (
        queries.filter(F.col(id_col).isNotNull())
        .select(F.col(id_col).alias("qid"), F.col(vec_col).alias("v"))
        .limit(_MAX_QUERIES + 1)
        .collect()
    )
    if len(q_rows) > _MAX_QUERIES:
        raise ValueError(
            f"brute_force_top_k: query panel exceeds {_MAX_QUERIES} rows; "
            "cap the panel (hash-sample) first"
        )
    q_ids = pd.Series([r["qid"] for r in q_rows]).to_numpy()
    q_mat, q_len = _pack([r["v"] for r in q_rows])
    # conservative prune margin: 2 rounding units under the global
    # ranker's round_digits (see docstring proof); no pruning when the
    # caller ranks on raw cosines with margin 0 (>= keeps exact ties)
    margin = 2.0 * (10.0 ** -round_digits) if round_digits is not None else 0.0

    def score(batches):
        for pdf in batches:
            if len(pdf) == 0 or len(q_ids) == 0:
                continue
            c_ids = pdf["nid"].to_numpy()
            c_mat, c_len = _pack(pdf["v"])
            # (m, n_q): corpus rows x panel queries
            cos = _cosine(c_mat[:, None, :], c_len[:, None], q_mat[None], q_len[None])
            valid = c_ids[:, None] != q_ids[None, :]
            if len(c_ids) > k:
                masked = np.where(valid & ~np.isnan(cos), cos, -np.inf)
                # k-th largest raw cosine per query (column)
                thresh = -np.partition(-masked, k - 1, axis=0)[k - 1, :]
                valid &= masked >= (thresh - margin)[None, :]
            cf, qf = np.nonzero(valid)
            yield pd.DataFrame(
                {"query_id": q_ids[qf], "neighbor_id": c_ids[cf], "cosine": cos[cf, qf]}
            )

    schema = StructType(
        [
            StructField("query_id", queries.schema[id_col].dataType),
            StructField("neighbor_id", corpus.schema[id_col].dataType),
            StructField("cosine", DoubleType()),
        ]
    )
    scored = (
        corpus.filter(F.col(id_col).isNotNull())
        .select(F.col(id_col).alias("nid"), F.col(vec_col).alias("v"))
        .mapInPandas(score, schema=schema)
    )
    return _topk_pairs(scored, "query_id", k, round_digits)


def hyperplane_buckets_arrow(vec_col: Column, dim: int, planes: int, tables: int) -> Column:
    """Sign-bit LSH bucket ids for `tables` hash tables of `planes`
    pseudo-random hyperplanes each, in ONE Arrow-batched numpy matmul:
    (batch, dim) @ (dim, tables*planes), then sign bits → one int per
    table. Coefficients are deterministic, h[t][p][i] =
    sin((t*planes + p)*dim + i) — fixed, seed-free and reproducible
    across runs. This is the documented "vectorized Pandas UDF for
    embedding math" path — ~30x an interpreted per-plane expression
    fold. A null vector, or one whose length is not `dim`, gets a null
    bucket array: it lands in no bucket, so it is never a candidate and
    never finds one (an unscorable pair never matches)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    coeffs = np.array(
        [
            [math.sin((t * planes + p) * dim + i) for i in range(dim)]
            for t in range(tables)
            for p in range(planes)
        ]
    ).T  # (dim, tables*planes)
    weights = 1 << np.arange(planes)

    # NOTE: no type hints on the inner fn — `from __future__ import
    # annotations` stringifies them and pandas_udf can't resolve the
    # function-local `pd` alias
    @pandas_udf("array<int>")
    def _buckets(s):
        ok = [v is not None and len(v) == dim for v in s]
        # (scorable rows, dim); a placeholder row when none is, since vstack needs one
        m = np.vstack([v for v, good in zip(s, ok) if good] or [np.zeros(dim)])
        bits = (m @ coeffs) > 0  # (batch, tables*planes)
        per_table = [
            (bits[:, t * planes : (t + 1) * planes] * weights).sum(axis=1) for t in range(tables)
        ]
        rows = iter(np.stack(per_table, axis=1).astype("int32"))
        return pd.Series([next(rows) if good else None for good in ok])

    return _buckets(vec_col)


def lsh_bucketed_top_k(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    planes: int = 8,
    tables: int = 4,
    round_digits: int | None = 6,
) -> DataFrame:
    """Approximate top-k via multi-table hyperplane LSH: `tables`
    independent hash tables of 2^planes buckets each; a pair is a
    candidate if it collides in ANY table (standard (planes, tables)
    LSH amplification — recall rises with tables, candidate count with
    1/2^planes). The join is a hash equi-join on (table, bucket)
    instead of a cartesian — this is the 100 TB path; candidates per
    query ≈ tables·|C|/2^planes. A null vector, or one whose length is
    not `dim`, has no buckets: it neither finds nor becomes a neighbour.
    """

    def banded(df: DataFrame, out_id: str, out_vec: str) -> DataFrame:
        buckets = hyperplane_buckets_arrow(F.col(vec_col), dim, planes, tables)
        return df.select(
            F.col(id_col).alias(out_id),
            F.col(vec_col).alias(out_vec),
            F.posexplode(buckets).alias("table", "bucket"),
        )

    q = banded(queries, "query_id", "q_vec")
    c = banded(corpus, "neighbor_id", "c_vec")
    candidates = (
        F.broadcast(q)
        .join(c, ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        # a pair colliding in several tables appears several times:
        # dedupe by key first, so each pair is scored once
        .dropDuplicates(["query_id", "neighbor_id"])
        .select("query_id", "neighbor_id", _cosine_pairs(F.col("q_vec"), F.col("c_vec")).alias("cosine"))
    )
    return _topk_pairs(candidates, "query_id", k, round_digits)


def knn_classify(
    queries: DataFrame,
    corpus: DataFrame,
    label_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_digits: int | None = 6,
) -> DataFrame:
    """k-NN majority-vote classification of query vectors against a
    labeled corpus — the standard embedding-space eval (probe a
    labeled held-out set, report how well neighborhoods predict
    labels) and the simplest production labeler for "tag this new
    document like its nearest labeled neighbors".

    Built on exact brute-force cosine (brute_force_top_k: the
    vectorized kernel, deterministic round-then-rank), then one count
    aggregate per (query, label) and a deterministic argmax (most
    votes, ties toward the SMALLEST label — the same total-order
    discipline as label_propagation). For corpus-scale query sets swap
    the neighbor source for ivf_top_k/lsh_bucketed_top_k — the vote
    logic is neighbor-source-agnostic.
    Returns (query_id, predicted_label, n_votes)."""
    nn = brute_force_top_k(
        queries, corpus, id_col=id_col, vec_col=vec_col, k=k,
        round_digits=round_digits,
    )
    labels = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("__lbl")
    )
    votes = (
        nn.join(labels, "neighbor_id")
        .groupBy("query_id", "__lbl")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    # deterministic argmax for ANY orderable label type: minimize
    # (-votes, label) — most votes first, then smallest label
    return votes.groupBy("query_id").agg(
        F.min_by(
            F.struct(F.col("__lbl").alias("predicted_label"), F.col("n_votes")),
            F.struct((-F.col("n_votes")).alias("nv"), F.col("__lbl")),
        ).alias("win")
    ).select(
        "query_id",
        "win.predicted_label",
        F.col("win.n_votes").cast("long").alias("n_votes"),
    )


def random_project(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    out_dim: int = 16,
    salt: str = "rp",
    round_decimals: int = 9,
) -> DataFrame:
    """Johnson-Lindenstrauss sign random projection (Achlioptas, JCSS
    2003): y_j = sum_i x_i * r_ij with r_ij = +-1/sqrt(out_dim), the
    dimensionality-reduction front-end that cuts ANN/cluster cost
    4x here (64 -> 16 dims) while preserving pairwise distances to
    1 +- eps with high probability.

    The projection matrix is NEVER materialized driver-side: it is a
    dim x out_dim row set generated IN-PLAN from the engine's md5
    unit draw keyed on (i * 1000 + j), so any engine regenerates the
    exact same matrix — the oracle replays it symbolically. Plan:
    2-row-set crossJoin (dim x out_dim, trivially broadcast) joined
    onto the pos-exploded vectors, then one (id, j) aggregation —
    a single shuffle whose width is out_dim/dim of the input's.

    Returns long-form (id, j, y) with y rounded so downstream
    distance sums are accumulation-order-safe.
    """
    from azure_data_engineering_spark.operators.sampling import hash_unit

    spark = df.sparkSession
    rows = spark.range(dim).select(F.col("id").cast("int").alias("pos"))
    cols = spark.range(out_dim).select(F.col("id").cast("int").alias("j"))
    r = rows.crossJoin(cols).select(
        "pos",
        "j",
        F.when(
            hash_unit(F.col("pos") * 1000 + F.col("j"), salt) < 0.5, -1.0
        )
        .otherwise(1.0)
        .alias("sgn"),
    )
    base = df.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    ex = base.select("id", F.posexplode("v").alias("pos", "x"))
    inv_sqrt = 1.0 / math.sqrt(float(out_dim))
    return (
        ex.join(F.broadcast(r), "pos")
        .groupBy("id", "j")
        .agg(
            F.round(F.sum(F.col("x") * F.col("sgn") * inv_sqrt), round_decimals).alias(
                "y"
            )
        )
    )


def embedding_outliers(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    top_k: int = 20,
    out_decimals: int = 6,
) -> DataFrame:
    """Embedding-space outlier screen: distance to the corpus centroid,
    z-scored over the corpus — the geometric complement to the
    token-level novelty scorer (quality.novelty_score). Far-from-
    centroid documents are the mislabeled-language / garbage-encoding
    / off-distribution candidates an embedding-led curation pass
    reviews first.

    Plan and determinism: the centroid comes from ONE posexplode +
    per-dimension aggregate with component values rounded to 9 dp and
    summed as exact decimals (order-free); distances join the exploded
    frame back to the broadcast 64-row centroid; per-doc squared
    deviations are again 9 dp decimals, so dist — and the z-score
    moments over (dist rounded 6 dp) — replay bit-identically. Output:
    top_k (id, dist, zscore) by (z desc, id)."""
    ex = emb.select(
        F.col(id_col).alias("vid"),
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    ).select(
        "vid",
        "pos",
        F.round(F.col("val").cast("double"), 9).cast("decimal(20,9)").alias("v"),
    )
    centroid = ex.groupBy("pos").agg(
        F.round(
            F.sum("v").cast("double") / F.count(F.lit(1)).cast("double"), 9
        )
        .cast("decimal(20,9)")
        .alias("c")
    )
    dist = (
        ex.join(F.broadcast(centroid), "pos")
        .select(
            "vid",
            F.round(
                (F.col("v").cast("double") - F.col("c").cast("double"))
                * (F.col("v").cast("double") - F.col("c").cast("double")),
                9,
            )
            .cast("decimal(20,9)")
            .alias("sq"),
        )
        .groupBy("vid")
        .agg(
            F.round(F.sqrt(F.sum("sq").cast("double")), out_decimals)
            .cast("decimal(18,6)")
            .alias("dist")
        )
    )
    m = dist.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dist").alias("s"),
        F.sum(F.col("dist") * F.col("dist")).alias("ss"),
    )
    nd, sd, ssd = (
        F.col("n").cast("double"),
        F.col("s").cast("double"),
        F.col("ss").cast("double"),
    )
    stats = m.select(
        "n",
        (sd / nd).alias("mean"),
        F.sqrt((nd * ssd - sd * sd) / (nd * (nd - 1))).alias("std"),
    )
    w = Window.orderBy(F.col("zscore").desc(), F.col("vid").asc())
    return (
        dist.crossJoin(F.broadcast(stats))
        .select(
            "vid",
            F.col("dist").cast("double").alias("dist"),
            F.round(
                (F.col("dist").cast("double") - F.col("mean")) / F.col("std"),
                out_decimals,
            ).alias("zscore"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            F.col("rank").cast("long").alias("rank"),
            F.col("vid").alias("vec_id"),
            "dist",
            "zscore",
        )
    )


def mmr_select(
    pool: DataFrame,
    sims: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    round_digits: int = 6,
) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein,
    SIGIR 1998): greedily pick k items balancing relevance against
    redundancy with what's already picked —

        mmr(c) = λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)

    `pool` is (cand, rel) — a BOUNDED candidate frame (top-N by
    relevance from any retrieval operator; MMR is re-ranking, so the
    pool is panel-sized by construction). `sims` is (a, b, sim) over
    pool pairs, both directions. Each greedy step collects exactly ONE
    row (the bounded-by-construction collect discipline, cf. the BPE
    merge loop) and feeds the next step's anti-filter; scores are
    rounded before the (score desc, cand) argmax so an unrolled SQL
    replay picks identical items."""
    rel = pool.select("cand", F.round(F.col("rel"), round_digits).alias("rel"))
    rel = rel.localCheckpoint()
    s2 = sims.select("a", "b", F.round(F.col("sim"), round_digits).alias("sim"))
    s2 = s2.localCheckpoint()
    first = (
        rel.select(
            "cand", F.round(F.col("rel") * lam, round_digits).alias("score")
        )
        .orderBy(F.col("score").desc(), F.col("cand").asc())
        .limit(1)
        .collect()[0]
    )
    picked = [(1, first["cand"], float(first["score"]))]
    for step in range(2, k + 1):
        sel_ids = [p[1] for p in picked]
        cand_scores = (
            rel.filter(~F.col("cand").isin(sel_ids))
            .join(
                s2.filter(F.col("b").isin(sel_ids)).groupBy("a").agg(
                    F.max("sim").alias("msim")
                ),
                rel["cand"] == F.col("a"),
            )
            .select(
                "cand",
                F.round(
                    F.lit(lam) * F.col("rel")
                    - F.lit(1.0 - lam) * F.col("msim"),
                    round_digits,
                ).alias("mmr"),
            )
        )
        nxt = (
            cand_scores.orderBy(F.col("mmr").desc(), F.col("cand").asc())
            .limit(1)
            .collect()
        )
        if not nxt:
            break
        picked.append((step, nxt[0]["cand"], float(nxt[0]["mmr"])))
    spark = pool.sparkSession
    return spark.createDataFrame(
        picked, "rank long, cand long, score double"
    )


def k_center_greedy(
    pool: DataFrame,
    dists: DataFrame,
    k: int = 8,
) -> DataFrame:
    """Greedy k-center coreset selection (Gonzalez 1985; the 2-approx
    farthest-point heuristic — the standard diversity-coreset picker
    for training-data subset selection, cf. Sener & Savarese 2018).
    `pool` is (pid, draw) — a BOUNDED panel with a deterministic md5
    draw column fixing the first center; `dists` is (a, b, dist) over
    pool pairs, both directions, pre-rounded. Each step picks the
    point FARTHEST from its nearest chosen center (max-min), with a
    (dist desc, pid) total order; one-row collects per step (the
    bounded-panel loop discipline shared with mmr_select). Returns
    (rank, pid, dist_to_centers) — the picked point's min-distance to
    the previously chosen centers (NULL for the first center); the
    last row's value is the coverage radius achieved."""
    p = pool.localCheckpoint()
    d = dists.localCheckpoint()
    first = (
        p.orderBy(F.col("draw").asc(), F.col("pid").asc()).limit(1).collect()[0]
    )
    picked = [(1, first["pid"], None)]
    for step in range(2, k + 1):
        sel = [x[1] for x in picked]
        nxt = (
            p.filter(~F.col("pid").isin(sel))
            .join(
                d.filter(F.col("b").isin(sel))
                .groupBy("a")
                .agg(F.min("dist").alias("mind")),
                p["pid"] == F.col("a"),
            )
            .orderBy(F.col("mind").desc(), F.col("pid").asc())
            .limit(1)
            .collect()
        )
        if not nxt:
            break
        picked.append((step, nxt[0]["pid"], float(nxt[0]["mind"])))
    spark = pool.sparkSession
    return spark.createDataFrame(
        picked, "rank long, pid long, dist_to_centers double"
    )


def matryoshka_eval(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dims: Sequence[int] = (8, 16, 32),
    k: int = 10,
    n_queries: int = 16,
    salt: str = "mrl",
) -> DataFrame:
    """Matryoshka truncation evaluation (Kusupati et al. NeurIPS 2022):
    how much top-k retrieval quality survives when embeddings are cut
    to their first d dimensions? For a deterministic md5-chosen query
    panel, full-dimension cosine top-k is the truth set; each
    truncated dimension re-ranks with prefix-sliced, renormalized
    vectors and reports mean overlap@k — the measurement that decides
    how small a serving index can shrink (the storage twin of
    quantize_int8's int8 question).

    Scale shape: the panel discipline (brute_force_top_k) — the
    bounded query panel broadcasts against the corpus once PER
    EVALUATED DIMENSION (each a single scan + per-query top-k
    window, no pair shuffle); overlap joins run on panel×k rows.
    Determinism: cosine sums run left-to-right over the array in
    both engines (fixed element order ⇒ identical doubles);
    neighbors rank by (9 dp-rounded sim DESC, id ASC). Returns one
    row per dim (full dim included as the self-check: overlap 1.0):
    (dim, n_queries, mean_overlap_at_k)."""
    v = emb.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )
    full_dim = F.size(F.col("vec"))
    # deterministic panel: smallest md5 draws
    drawn = v.withColumn(
        "draw", F.md5(F.concat(F.col("id").cast("string"), F.lit(salt)))
    )
    panel = (
        drawn.withColumn("prk", F.row_number().over(Window.orderBy("draw")))
        .filter(F.col("prk") <= n_queries)
        .select(F.col("id").alias("qid"), F.col("vec").alias("qvec"))
    )

    def _norm_slice(col, d):
        sl = F.slice(col, 1, d)
        nrm = F.sqrt(
            F.aggregate(sl, F.lit(0.0), lambda acc, x: acc + x * x)
        )
        return sl, nrm

    def topk_at(d_expr, dim_label):
        qs, qn = _norm_slice(F.col("qvec"), d_expr)
        cs, cn = _norm_slice(F.col("vec"), d_expr)
        dot = F.aggregate(
            F.zip_with(qs, cs, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
        )
        sim = F.round(
            F.when((qn > 0) & (cn > 0), dot / (qn * cn)).otherwise(F.lit(-2.0)), 9
        )
        scored = (
            panel.crossJoin(v)
            .filter(F.col("id") != F.col("qid"))
            .select("qid", "id", sim.alias("sim"))
        )
        w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("id").asc())
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select(F.lit(dim_label).alias("dim"), "qid", "id")
        )
    truth = topk_at(full_dim, -1).select("qid", F.col("id").alias("tid"))
    evals = None
    for d in list(dims):
        e = topk_at(F.lit(int(d)), int(d))
        evals = e if evals is None else evals.unionByName(e)
    evals = evals.unionByName(topk_at(full_dim, 0))
    # LEFT join so zero-overlap queries keep their k rows (a query whose
    # truncated top-k misses the truth entirely is overlap 0, not absent)
    flagged = evals.join(
        truth,
        (evals["qid"] == truth["qid"]) & (evals["id"] == truth["tid"]),
        "left",
    ).select(evals["dim"], evals["qid"], truth["tid"].isNotNull().alias("hit"))
    per_q = flagged.groupBy("dim", "qid").agg(
        F.sum(F.col("hit").cast("int")).alias("h")
    )
    # panel mean over 9dp-decimal per-query overlaps (order-free sum)
    per_q = per_q.select(
        "dim",
        F.round(F.col("h") / F.lit(float(k)), 9).cast("decimal(18,9)").alias("ov"),
    )
    return (
        per_q.groupBy("dim")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.round(
                F.sum("ov").cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("mean_overlap_at_k"),
        )
        .withColumn(
            "dim",
            F.when(F.col("dim") == 0, F.lit(None).cast("int")).otherwise(F.col("dim")),
        )
        .orderBy(F.col("dim").asc_nulls_last())
    )
