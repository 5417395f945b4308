"""Vector math over ``array<float>`` embedding columns.

Two halves:
- the public Column API (`dot`, `l2_norm`, `cosine_similarity`,
  quantization, normalization) is Catalyst higher-order functions
  (`zip_with` + `aggregate`) — no Python boundary, usable in any
  expression (e.g. IVF cell assignment, operators/ivf._nearest_cells);
- the exact cosine kernel every scorer uses (`_cosine`, and
  `_cosine_pairs` for joined pairs) is one Arrow-batched numpy fold:
  the same IEEE operation sequence as `cosine_similarity`, vectorized
  over the batch instead of interpreted per element per pair.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 for zero-norm vectors (never NaN/div0)."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def _pack(vectors) -> tuple[np.ndarray, np.ndarray]:
    """Zero-padded float64 matrix of a batch of vectors, plus each
    row's length (-1 for a null vector). float32 -> float64 widening is
    exact, as in the Column API's cast; a null component becomes NaN."""
    lens = np.array([-1 if v is None else len(v) for v in vectors], dtype=np.int64)
    mat = np.zeros((len(lens), max(int(lens.max(initial=0)), 0)))
    for i, v in enumerate(vectors):
        if lens[i] > 0:
            mat[i, : lens[i]] = v
    return mat, lens


def _cosine(a: np.ndarray, a_len: np.ndarray, b: np.ndarray, b_len: np.ndarray) -> np.ndarray:
    """Exact cosine of packed vectors (see _pack), broadcasting over the
    leading axes: (m, d) x (m, d) scores row-wise pairs, (m, 1, d) x
    (1, n, d) all pairs.

    Bit-identical to cosine_similarity by construction: the dot product
    and both squared norms accumulate in float64 strictly left to right
    over the last axis (acc = acc + x_i * y_i, i ascending — the IEEE
    op sequence of the `aggregate` fold), then sqrt(|a|^2) * sqrt(|b|^2)
    divides, and a zero denominator scores 0.0. Folding over the shared
    width is exact for every equal-length pair, since zero padding
    beyond a row's length adds +0.0.

    A pair scores NaN (null once it leaves Arrow) when either vector is
    null, the lengths differ, or the cosine is not finite (a NaN or
    infinite component) — so such a pair ranks after every scored
    neighbour and never passes a similarity threshold."""
    dot_ = np.zeros(np.broadcast_shapes(a.shape[:-1], b.shape[:-1]))
    na, nb = np.zeros(a.shape[:-1]), np.zeros(b.shape[:-1])
    with np.errstate(all="ignore"):  # non-finite results are nulled below
        for i in range(min(a.shape[-1], b.shape[-1])):
            ai, bi = a[..., i], b[..., i]
            dot_ += ai * bi
            na += ai * ai
            nb += bi * bi
        denom = np.sqrt(na) * np.sqrt(nb)
        cos = np.where(denom == 0, 0.0, dot_ / denom)
    ok = (a_len == b_len) & (a_len >= 0) & np.isfinite(cos)
    return np.where(ok, cos, np.nan)


def _cosine_pairs(a: Column, b: Column) -> Column:
    """Exact cosine of each row's (a, b) vector pair, scored by _cosine
    in one Arrow batch — the re-rank scorer for joined candidate pairs
    (IVF, IVF-PQ refine, LSH, SemDeDup). Null where _cosine gives NaN."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no type hints: `from __future__ import annotations` stringifies
    # them and pandas_udf can't resolve the function-local `pd` alias
    @pandas_udf("double")
    def score(sa, sb):
        ma, la = _pack(sa)
        mb, lb = _pack(sb)
        return pd.Series(_cosine(ma, la, mb, lb))

    return score(a, b)


def max_abs(a: Column) -> Column:
    """max(|x_i|) — the symmetric-quantization scale basis."""
    return F.array_max(F.transform(a, lambda x: F.abs(x.cast("double"))))


def quantize_int8(a: Column) -> Column:
    """Symmetric int8 quantization: q_i = trunc(x_i * (127 / max|x|)),
    in [-127, 127] — embedding compression for training-data storage
    (4x smaller than float32; public standard scheme). trunc, not
    round: truncation of identical doubles is engine-portable, rounding
    conventions are not. Zero vectors quantize to zeros. HOF lambdas
    are interpreted, so for hot paths batch this through the Arrow
    kernel instead (operators/similarity.hyperplane_buckets_arrow pattern)."""
    scale = F.lit(127.0) / max_abs(a)
    return F.when(max_abs(a) == 0, F.transform(a, lambda x: F.lit(0).cast("int"))).otherwise(
        F.transform(a, lambda x: (x.cast("double") * scale).cast("int"))
    )


def dequantize_int8(q: Column, scale_basis: Column) -> Column:
    """Inverse map: x̂_i = q_i * (max|x| / 127). Lossy by design; the
    reconstruction error bound is max|x|/127 per component."""
    inv = scale_basis / F.lit(127.0)
    return F.transform(q, lambda x: x.cast("double") * inv)


def l2_normalize(a: Column) -> Column:
    """Unit-normalize (double); zero vectors pass through as zeros so
    downstream dot products stay 0 instead of NaN. Normalizing first
    turns inner product into cosine — the standard precondition for
    product-quantized similarity search (operators/ivf.ivfpq_top_k)."""
    n = l2_norm(a)
    return F.when(n == 0, F.transform(a, lambda x: x.cast("double"))).otherwise(
        F.transform(a, lambda x: x.cast("double") / n)
    )
