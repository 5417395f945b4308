"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

North-star LLM-pipeline operators (BASELINE.json): at 100 TB the
pairwise-comparison space is O(n²) and must be pruned *before* any
join. The scale paths here follow the standard public recipes
(Broder '97 minhash; Charikar '02 simhash; MMDS ch.3 LSH banding):

  shingle -> minhash signature -> band -> bucket hash -> join only
  within buckets -> verify candidates with exact Jaccard.

Everything is built from JVM-side higher-order functions (transform /
aggregate / explode) — no Python UDFs — so signature computation stays
in whole-stage codegen and scales linearly with a single shuffle on
the band-bucket key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from azure_data_engineering_spark.functions.text import normalize_text


# The band format (word k-shingles -> MinHash lanes -> bands) of the
# persisted signature store (streaming/dedup_stream.py): batch
# candidates and history probes MUST use identical band math, or a
# store probed with other values than it was written with misses every
# history duplicate without any error. 64 lanes in 16 bands (r = 4)
# put the LSH S-curve threshold at (1/16)^(1/4) ≈ 0.5 Jaccard.
_NUM_HASHES = 64
_BANDS = 16
_SHINGLE_K = 3
# in-bucket pair expansion cap (minhash_lsh_candidates, streaming dedup)
_MAX_BUCKET = 1000


def _ensure_parallelism(df: DataFrame) -> DataFrame:
    """CPU-heavy per-row stages (shingling, hashing) need enough input
    partitions. A 100 TB table has thousands of file splits so this is
    a no-op; a small local file arrives as ONE partition and would pin
    the whole map stage to one core (measured 3x on sf0.1).

    Partition estimate = leaf input file count (plan metadata only —
    touching df.rdd would force a Python-RDD conversion plan per call).
    Fewer files than cores -> repartition; shuffled/in-memory inputs
    (no leaf files) are already sized by spark.sql.shuffle.partitions /
    parallelize and pass through."""
    target = df.sparkSession.sparkContext.defaultParallelism
    n_files = len(df.inputFiles())
    if 0 < n_files < target:
        return df.repartition(target)
    return df


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup: canonical row = min(id) per normalized text.
    One hash-shuffle on the (normalized) text; map-side partial
    aggregation makes this cheap even when most docs are unique."""
    return (
        df.groupBy(normalize_text(F.col(text_col)).alias("__norm"))
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .drop("__norm")
    )


def _kgrams(units: Column, k: int, sep: str) -> Column:
    """Distinct k-grams of an array of units, each joined by `sep`.

    Built as a zip_with chain over k shifted slices — O(n) per doc.
    (A transform(sequence(i), slice(units, i, k)) formulation is
    O(n²) AND interpreted — higher-order lambdas don't codegen — which
    measured 15x slower.) Arrays shorter than k yield one partial
    k-gram (concat_ws skips the null pads from zip_with)."""
    m = F.greatest(F.size(units) - (k - 1), F.lit(1))
    out = F.slice(units, 1, m)
    for j in range(1, k):
        out = F.zip_with(out, F.slice(units, j + 1, m), lambda x, y: F.concat_ws(sep, x, y))
    return F.array_distinct(out)


def char_shingles(text: Column, k: int = 5) -> Column:
    """Character k-grams of normalized text, distinct — the
    word-shingle alternative for languages without whitespace
    tokenization (zh/ja) or very short texts."""
    return _kgrams(F.split(normalize_text(text), ""), k, "")


def shingles(text: Column, k: int = 3) -> Column:
    """Word k-shingles of normalized text, distinct, as array<string>."""
    return _kgrams(F.split(normalize_text(text), " "), k, " ")


def _shingle_sets(df: DataFrame, text_col: str, id_col: str, k: int, unit: str) -> DataFrame:
    """(id, sh, n_sh): each doc's distinct word (unit="word") or
    character k-grams and their count."""
    mk = shingles if unit == "word" else char_shingles
    return (
        _ensure_parallelism(df.select(id_col, text_col))
        .select(F.col(id_col).alias("id"), mk(F.col(text_col), k).alias("sh"))
        .withColumn("n_sh", F.size("sh"))
    )


def _common_counts(ex: DataFrame, cond: Column | None = None) -> DataFrame:
    """Inverted-index intersection of exploded shingle rows (id, n_sh,
    s): self-join on the shingle (a.id < b.id, plus `cond` on the "a" /
    "b" sides) and count shared shingles per pair. Returns (id_a, id_b,
    na, nb, n_common)."""
    a, b = ex.alias("a"), ex.alias("b")
    on = (F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id"))
    if cond is not None:
        on = on & cond
    return (
        a.join(b, on)
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def minhash_signatures(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, signature: array<bigint>) — one row per input row.

    Each shingle string is hashed ONCE (xxhash64); lane j re-keys that
    8-byte value with a second seeded xxhash64 — h_j(x) =
    min over shingles of xxhash64(j, x) — a full-avalanche permutation
    family. (An XOR-constant family h_j(x) = x XOR c_j is cheaper but
    its lanes are CORRELATED: XOR preserves the ordering structure of
    the high bits, so when a differing shingle wins the global min it
    tends to win MANY lanes at once; measured on near-identical docs
    the per-lane agreement dropped to ~0.73 for true Jaccard 0.86 and
    banding misses clustered — tests/test_dedup_skew.py would fail.)
    Shape: explode shingles → hash → 64 min() hash-aggregates over a
    16-byte re-hash — every operator whole-stage-codegen (array-lambda
    folds are interpreted in Spark and measured ~50x slower). The
    groupBy shuffles only (id, 64 longs) after map-side partial
    min-combine. The lanes are one SQL expression: built lane by lane
    through the Column API they cost the driver thousands of py4j round
    trips per call."""
    ex = _ensure_parallelism(df.select(id_col, text_col)).select(
        F.col(id_col), F.explode(shingles(F.col(text_col), _SHINGLE_K)).alias("__s")
    ).withColumn("__h", F.xxhash64("__s"))
    lanes = ", ".join(f"min(xxhash64(CAST({j} AS BIGINT), __h))" for j in range(_NUM_HASHES))
    return ex.groupBy(id_col).agg(F.expr(f"array({lanes})").alias("signature"))


def band_buckets(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, band, band_hash) — each doc's minhash signature split into
    _BANDS groups of _NUM_HASHES/_BANDS lanes, each group hashed to one
    bucket key. The shared banding step behind minhash_lsh_candidates
    (in-corpus pairs) and streaming/dedup_stream (probe vs a persisted
    store). Band hashes are unrolled statically into one SQL expression
    (getItem + concat_ws + xxhash64 stay in codegen; a transform/sequence
    lambda would be interpreted)."""
    r = _NUM_HASHES // _BANDS
    sig = minhash_signatures(df, text_col, id_col)
    band_hashes = ", ".join(
        "xxhash64(concat_ws(',', "
        + ", ".join(f"CAST(signature[{b * r + i}] AS STRING)" for i in range(r))
        + "))"
        for b in range(_BANDS)
    )
    return sig.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.expr(f"array({band_hashes})")).alias("band", "band_hash"),
    )


def _bucket_pairs(banded: DataFrame, max_bucket: int) -> DataFrame:
    """Distinct (id_a, id_b), id_a < id_b, of every pair of docs that
    share a (band, band_hash) bucket of `banded`; buckets of more than
    max_bucket docs are dropped as stop-buckets."""
    buckets = (
        banded.groupBy("band", "band_hash")
        .agg(F.array_sort(F.collect_set("id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    n = F.size(F.col("ids"))
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.greatest(n - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
    )


def minhash_lsh_candidates(
    df: DataFrame, text_col: str, id_col: str, max_bucket: int = _MAX_BUCKET
) -> DataFrame:
    """LSH banding: split each signature into _BANDS groups of
    rows-per-band hashes, hash each band, and emit all id pairs within
    each (band, band_hash) bucket. Returns candidate pairs
    (id_a < id_b).

    Shape: ONE signature computation → ONE shuffle (groupBy on the
    band-bucket key) → in-bucket pair expansion. (A self-join
    formulation computes the signature pipeline twice — Catalyst does
    not reuse the exchange across the a.id<b.id asymmetry.) Candidate
    generation is linear in corpus size, never O(n²).

    max_bucket guards the quadratic in-bucket expansion: a bucket of
    exact duplicates yields |bucket|² pairs — run exact_dedup FIRST,
    and mega-buckets beyond the cap are dropped as stop-buckets (the
    standard skew guard; at 100 TB a hot bucket is a stop-shingle
    analog, not signal).
    """
    return _bucket_pairs(band_buckets(df, text_col, id_col), max_bucket)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    k: int = 3,
    unit: str = "word",
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via shingle inverted index:
    explode shingles, self-join on shingle, count intersections, and
    compute |A∩B| / (|A|+|B|-|A∩B|) >= threshold. Returns (id_a, id_b,
    jaccard).

    Scale: the explode+join is an inverted index — each shingle bucket
    joins only docs sharing that shingle. Hot shingles are the skew
    risk; at 100 TB drop ultra-frequent shingles (stop-shingles) first,
    or use minhash_lsh_candidates as the pre-filter and this as the
    verify stage on candidates only.
    """
    base = _shingle_sets(df, text_col, id_col, k, unit)
    ex = base.select("id", "n_sh", F.explode("sh").alias("s"))
    # length-ratio prune (exact, not heuristic): J >= t implies
    # min(|A|,|B|)/max(|A|,|B|) >= t, so pairs violating
    # t*max <= min can never reach the threshold — cuts the inverted-
    # index pair blowup before the intersection groupBy shuffle
    na, nb = F.col("a.n_sh"), F.col("b.n_sh")
    inter = _common_counts(ex, F.greatest(na, nb) * threshold <= F.least(na, nb))
    return (
        inter.withColumn("jaccard", F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    segments: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Pigeonhole blocking (Manku et al., WWW'07 near-duplicate
    detection): split the 64-bit simhash into `segments` equal bit
    segments; any pair within Hamming distance < segments must agree
    exactly on at least one segment. Join only on (segment index,
    segment value) — linear candidate generation — then verify with
    bit_count(xor). Requires max_hamming < segments.
    Returns (id_a, id_b, hamming).
    """
    sig = simhash(df.select(id_col, text_col), text_col).select(id_col, "simhash")
    return hamming_near_dups(sig, "simhash", id_col, max_hamming, segments)


def hamming_near_dups(
    df: DataFrame,
    hash_col: str,
    id_col: str,
    max_hamming: int = 3,
    segments: int = 4,
) -> DataFrame:
    """Pairs whose 64-bit signatures differ in <= max_hamming bits —
    the generic pigeonhole-blocked Hamming self-join behind BOTH text
    SimHash (simhash_candidates) and image perceptual-hash dedup
    (sources/multimodal.image_ahash): any pair within Hamming distance
    < segments agrees exactly on >= 1 of the `segments` equal bit
    segments, so joining on (segment index, segment value) generates
    candidates LINEAR in input size (vs the quadratic all-pairs), then
    bit_count(xor) verifies exactly. Returns (id_a, id_b, hamming)."""
    if max_hamming >= segments:
        raise ValueError("pigeonhole requires max_hamming < segments")
    width = 64 // segments
    sig = df.select(F.col(id_col), F.col(hash_col).alias("_sig"))
    seg_exprs = []
    for si in range(segments):
        # unsigned segment extraction via shift+mask (shiftrightunsigned
        # keeps the top segment positive)
        seg = F.shiftrightunsigned(F.col("_sig"), si * width).bitwiseAND(
            F.lit((1 << width) - 1).cast("bigint")
        )
        seg_exprs.append(F.struct(F.lit(si).alias("seg_idx"), seg.alias("seg_val")))
    segged = sig.select(
        F.col(id_col), F.col("_sig"), F.explode(F.array(*seg_exprs)).alias("seg")
    ).select(id_col, "_sig", "seg.seg_idx", "seg.seg_val")
    a, b = segged.alias("a"), segged.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.seg_idx") == F.col("b.seg_idx"))
            & (F.col("a.seg_val") == F.col("b.seg_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a._sig").bitwiseXOR(F.col("b._sig"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return cand


def simhash(df: DataFrame, text_col: str) -> DataFrame:
    """Append `simhash: bigint` (Charikar): per bit position, sum +1/-1
    votes of xxhash64(token) bits across tokens; sign -> bit. Near-dups
    have small Hamming distance.

    Single pass: each token hashed once; one aggregate carries an
    array<int> of per-bit vote counters (zip_with), then votes fold to
    the sign bits. Bit tests use bitwiseAND against literal masks (no
    variable shifts, no ANSI overflow). All codegen; pair search then
    blocks on bit-prefixes or uses the minhash LSH path."""
    masks = F.array(
        *[F.lit((1 << i) if i < 63 else -(1 << 63)).cast("bigint") for i in range(64)]
    )
    df = _ensure_parallelism(df)
    toks = F.array_distinct(F.split(normalize_text(F.col(text_col)), " "))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    votes = F.aggregate(
        hashes,
        F.transform(masks, lambda m: F.lit(0)),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(masks, lambda m: F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1)),
            lambda a, b: a + b,
        ),
    )
    sig = F.aggregate(
        F.zip_with(votes, masks, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("bigint"))),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc.bitwiseOR(x),
    )
    return df.withColumn("simhash", sig)


def duplicated_span_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
) -> DataFrame:
    """Substring-level EXACT dedup statistics (the train-data dedup of
    Lee et al., ACL 2022, "Deduplicating Training Data Makes Language
    Models Better"): find every length-k token window that occurs more
    than once ANYWHERE in the corpus, keep its first occurrence (min
    (doc, position)), and report per document how many of its tokens
    sit inside a repeated span. Downstream pipelines drop documents
    above a dup_frac threshold or excise the flagged spans.

    Spark-first plan (the reference design uses a suffix array, which
    needs the whole corpus in one address space — a non-starter at
    100 TB; corpus-partitioned k-gram hashing is the distributed
    equivalent):
      1. tokenize + per-row window enumeration in pure codegen
         (split → sequence → explode → slice → md5) — no shuffle;
      2. ONE hash shuffle on the gram key via groupBy(count, min of
         the packed (doc, pos) key) — map-side partial aggregation
         collapses stop-grams BEFORE the exchange, so a gram
         repeated 10^6 times ships one partial row per task, not
         10^6 rows (the skew-safety a window-function formulation
         would not have);
      3. join occurrences back on the gram key to mark non-first
         duplicates, explode each duplicate start into its k covered
         positions, count distinct covered positions per doc.
    Memory is O(grams per partition); nothing is driver-side. The
    gram hash is md5 of the space-joined window, portable bit-for-bit
    across engines, so the whole statistic is exactly replayable in
    ANSI SQL (no recall gate needed — this operator is exact).
    """
    t_raw = F.split(F.trim(F.col(text_col)), r"\s+")
    # one cheap per-doc guard backing the packed-key bound below — in
    # the expression itself so column pruning cannot elide it
    t = F.when(F.size(t_raw) < 10_000_000, t_raw).otherwise(
        F.raise_error(F.lit("duplicated_span_stats: doc exceeds 10M tokens"))
    )
    toks = df.filter(F.trim(F.col(text_col)) != "").select(
        F.col(id_col).alias("doc_id"), t.alias("t")
    )
    starts = F.when(
        F.size("t") >= k, F.sequence(F.lit(1), F.size("t") - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    hashed = toks.select(
        "doc_id",
        F.explode(starts).alias("pos"),
        F.md5(F.concat_ws(" ", F.slice(F.col("t"), F.col("pos"), k))).alias("gh"),
    )
    # first-occurrence key packed into ONE decimal(38,0): doc_id*1e7 +
    # pos is lexicographic (doc, pos) order as long as a document has
    # < 10^7 tokens (a 10M-token doc is ~40MB of text — far beyond any
    # sane training document; assert the bound instead of corrupting).
    # Packing matters twice: a plain-number min keeps the aggregate
    # HASH-based (a struct min forces SortAggregate in Spark and is
    # pathologically slow in some engines), and the packed compare
    # replays bit-identically in ANSI SQL. decimal(38,0), not bigint:
    # any 64-bit id (xxhash64 doc ids) times 1e7 fits in 38 digits, where
    # a bigint product overflows once |doc_id| exceeds ~9.2e11. Cast
    # BEFORE the multiply, so an int id cannot overflow an int product.
    packed = F.col("doc_id").cast("decimal(38,0)") * F.lit(10_000_000) + F.col("pos")
    per_gram = (
        hashed.groupBy("gh")
        .agg(
            F.count(F.lit(1)).alias("occ"),
            F.min(packed).alias("first_packed"),
        )
        .filter(F.col("occ") > 1)
    )
    dup_starts = hashed.join(per_gram, "gh").filter(packed != F.col("first_packed"))
    covered = (
        dup_starts.select(
            "doc_id", F.explode(F.sequence(F.col("pos"), F.col("pos") + (k - 1))).alias("cp")
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("dup_tokens"))
    )
    return (
        toks.select("doc_id", F.size("t").alias("n_tokens"))
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("dup_tokens"), F.lit(0)).alias("dup_tokens"),
            F.round(
                F.coalesce(F.col("dup_tokens"), F.lit(0)) / F.col("n_tokens"), 4
            ).alias("dup_frac"),
        )
    )


def ppjoin_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    k: int = 3,
    unit: str = "word",
    max_bucket: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via PPJoin prefix+position
    filtering (Xiao, Wang, Lin & Yu, WWW 2008) — the at-scale upgrade
    of ngram_jaccard_pairs' full inverted index.

    Why it matters at 100 TB: the full inverted index posts EVERY
    shingle of every document, so candidate volume is driven by the
    most common shingles (boilerplate). PPJoin orders each document's
    shingle set by ascending GLOBAL frequency and posts only the
    PREFIX — the p = n - ceil(t*n) + 1 rarest shingles — which is
    provably sufficient: two sets with Jaccard >= t must overlap in
    >= ceil(t*(na+nb)/(1+t)) elements, and missing every prefix
    element of either side caps the overlap below that. Candidates
    therefore come only from RARE-shingle buckets (the frequency
    ordering makes the hot boilerplate shingles precisely the ones
    never posted), typically orders of magnitude fewer pairs through
    the shuffle. The position filter tightens further: a prefix match
    at ranks (i, j) caps the total overlap at min(na-i, nb-j)+1,
    pruning before the verify join.

    Verification is exact — surviving candidate pairs re-join the
    full (distinct) shingle arrays and compute true Jaccard — so the
    OUTPUT is identical to ngram_jaccard_pairs (asserted in
    tests/test_dedup_ppjoin.py); only the candidate-generation cost
    differs. Float-safe prefix math: ceil(x - 1e-6) never shortens a
    prefix through rounding (a longer prefix is always sound).

    Plan: shingle-frequency agg (1 shuffle) -> per-doc frequency rank
    (1 shuffle on id) -> prefix self-join on shingle (1 shuffle)
    -> distinct candidate pairs -> verify join against the shingle
    arrays (1 shuffle). Returns (id_a, id_b, jaccard).

    max_bucket (stop-shingle guard, default off): frequency ordering
    already keeps globally-hot boilerplate shingles out of prefixes,
    but a corpus with thousands of BYTE-IDENTICAL documents makes
    even each doc's rarest shingles hot — their shared prefix buckets
    go quadratic exactly like LSH mega-buckets. With max_bucket set,
    prefix-posting buckets holding more than max_bucket entries are
    dropped before the self-join, bounding per-bucket pair expansion
    at C(max_bucket, 2). Output becomes a SUBSET: a pair co-occurring
    ONLY in stopped buckets is missed — at that bucket size such
    pairs are overwhelmingly exact/boilerplate copies, which
    exact_dedup catches upstream (run it first, as q_clean_corpus
    does). Pairs sharing any sub-max_bucket prefix shingle are
    unaffected (tests/test_dedup_skew.TestPpjoinStopShingle).
    """
    base = (
        _shingle_sets(df, text_col, id_col, k, unit)
        .filter(F.col("n_sh") > 0)
        # materialize once (r12): base feeds the freq agg, the ranked
        # join, AND both verify sides — four consumers whose joins are
        # keyed differently (s / id_a / id_b), so AQE exchange reuse
        # never applies and the regexp-heavy shingling would re-run
        # per consumer
        .localCheckpoint(eager=True)
    )
    ex = base.select("id", "n_sh", F.explode("sh").alias("s"))
    freq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("df_s"))
    ranked = ex.join(freq, "s").withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("id").orderBy(F.col("df_s").asc(), F.col("s").asc())
        ),
    )
    t = float(threshold)
    prefix_len = F.col("n_sh") - F.ceil(F.lit(t) * F.col("n_sh") - 1e-6) + 1
    prefix = ranked.filter(F.col("rnk") <= prefix_len).select("id", "n_sh", "s", "rnk")
    if max_bucket is not None:
        bucket_n = prefix.groupBy("s").agg(F.count(F.lit(1)).alias("_bn"))
        prefix = (
            prefix.join(bucket_n.filter(F.col("_bn") <= int(max_bucket)), "s")
            .drop("_bn")
        )
    a, b = prefix.alias("a"), prefix.alias("b")
    na, nb = F.col("a.n_sh"), F.col("b.n_sh")
    alpha = F.ceil((F.lit(t) / (1.0 + t)) * (na + nb) - 1e-6)
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.id") < F.col("b.id"))
            # length-ratio prune: J >= t forces t*max(n) <= min(n)
            & (F.greatest(na, nb) * t <= F.least(na, nb))
            # position filter: overlap can't exceed what's left after
            # each side's matched prefix position
            & (
                F.least(na - F.col("a.rnk"), nb - F.col("b.rnk")) + 1 >= alpha
            ),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sa = base.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("n_sh").alias("na"))
    sb = base.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("n_sh").alias("nb"))
    verified = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("n_common", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard", F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
        )
        .filter(F.col("jaccard") >= t)
    )
    return verified.select("id_a", "id_b", "jaccard")


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    k: int = 1,
    unit: str = "word",
    max_df: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup pairs by set containment
    C(A -> B) = |A ∩ B| / |A| >= threshold, where A is the doc with
    the SMALLER distinct-shingle set (ties toward the smaller id).

    Why containment and not Jaccard: a short document fully embedded
    in a long one (quoted article inside an aggregator page, a README
    pasted into a mega-repo dump) has near-zero Jaccard — the union
    is dominated by the long side — yet is exactly the redundancy a
    training-corpus dedup wants to catch. Jaccard-based passes
    (minhash/ppjoin) are blind to it by construction; containment is
    the standard complement (Broder's "containment" in the original
    resemblance paper, SEQUENCES 1997).

    Plan: one shingle explode -> optional stop-shingle drop (global
    document-frequency > max_df, the same hot-key guard as LSH
    max_bucket / PPJoin stop-shingles: ubiquitous boilerplate tokens
    would otherwise go quadratic in the inverted index; dropping them
    means containment is measured over the non-stop vocabulary, which
    the oracle mirrors exactly) -> inverted-index self-join on
    shingle -> intersection count groupBy -> threshold filter with
    the containment computed against the smaller side. No length
    prune applies (the big side may be arbitrarily large — that is
    the point). Returns (id_small, id_big, containment).
    """
    base = _shingle_sets(df, text_col, id_col, k, unit)
    ex = base.select("id", F.explode("sh").alias("s"))
    if max_df is not None:
        dfreq = ex.groupBy("s").agg(F.count(F.lit(1)).alias("__df"))
        ex = (
            ex.join(dfreq.filter(F.col("__df") <= max_df).select("s"), "s")
        )
    # denominator AFTER the stop-shingle drop (ADVICE r5): both the
    # intersection and |A| count only surviving shingles, so
    # containment really is measured over the non-stop vocabulary —
    # counting stop shingles in |A| alone would deflate scores for
    # stop-heavy docs below threshold. One window on the already-
    # shuffled id key, no extra exchange beyond the size lookup.
    ex = ex.withColumn(
        "n_sh", F.count(F.lit(1)).over(Window.partitionBy("id"))
    )
    inter = _common_counts(ex)
    # orient: small side is the contained candidate (tie -> lower id)
    small_first = (F.col("na") < F.col("nb")) | (
        (F.col("na") == F.col("nb")) & (F.col("id_a") < F.col("id_b"))
    )
    oriented = inter.select(
        F.when(small_first, F.col("id_a")).otherwise(F.col("id_b")).alias("id_small"),
        F.when(small_first, F.col("id_b")).otherwise(F.col("id_a")).alias("id_big"),
        F.when(small_first, F.col("na")).otherwise(F.col("nb")).alias("n_small"),
        F.col("n_common"),
    )
    return (
        oriented.withColumn(
            "containment", F.round(F.col("n_common") / F.col("n_small"), 6)
        )
        .filter(F.col("containment") >= threshold)
        .select("id_small", "id_big", "containment")
    )
