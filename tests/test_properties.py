"""Property-based tests (hypothesis) — SURVEY.md §5 item 3.

Algebraic laws the operators must satisfy on arbitrary inputs:
sanitize idempotence, upsert idempotence/absorption, jaccard bounds.
Example counts are kept small: each example spins Spark jobs.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from azure_data_engineering_spark.functions.sanitize import sanitize_cell
from azure_data_engineering_spark.operators.dedup import ngram_jaccard_pairs
from azure_data_engineering_spark.operators.upsert import merge_upsert

SETTINGS = dict(
    max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)

text_strategy = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)), max_size=60
)


@given(raw=text_strategy)
@settings(**SETTINGS)
def test_sanitize_idempotent(spark, raw):
    df = spark.createDataFrame([(raw,)], "t string")
    once, twice = df.select(
        sanitize_cell(F.col("t")).alias("a"), sanitize_cell(sanitize_cell(F.col("t"))).alias("b")
    ).collect()[0]
    assert once == twice


@given(raw=text_strategy)
@settings(**SETTINGS)
def test_sanitize_output_is_clean(spark, raw):
    df = spark.createDataFrame([(raw,)], "t string")
    out = df.select(sanitize_cell(F.col("t")).alias("a")).collect()[0]["a"]
    assert not set(out) & {",", "'", "\n", "\\", "/"}
    assert all(ord(ch) < 128 for ch in out)


# arbitrary text, with the characters the chain rewrites drawn often
hostile_text_strategy = st.text(
    alphabet=st.one_of(
        st.sampled_from(",'\n\\/- \r\t\"é中"),
        st.characters(codec="utf-8", exclude_categories=("Cs",)),
    ),
    max_size=60,
)


@given(raws=st.lists(hostile_text_strategy, min_size=1, max_size=16))
@settings(**SETTINGS)
def test_sanitize_matches_reference_chain(spark, raws):
    """The reference's Python chain (HelperFunction.py:36-41), step by
    step, on arbitrary text."""
    expected = [
        raw.replace(",", "")
        .replace("'", "")
        .replace("\n", " ")
        .replace("\\", " ")
        .replace("/", "-")
        .encode("ascii", "ignore")
        .decode()
        for raw in raws
    ]
    df = spark.createDataFrame([(i, raw) for i, raw in enumerate(raws)], "i int, t string")
    got = df.select("i", sanitize_cell(F.col("t")).alias("a")).orderBy("i").collect()
    assert [r["a"] for r in got] == expected


rows_strategy = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 100)), min_size=0, max_size=8
)


@given(target_rows=rows_strategy, source_rows=rows_strategy)
@settings(**SETTINGS)
def test_upsert_idempotent_and_unique(spark, target_rows, source_rows):
    # a target is a PK table: unique on k by definition (the reference's
    # target has a real PRIMARY KEY constraint, PGHelperFunction.py:16-23)
    target_rows = list({k: (k, v) for k, v in target_rows}.values())
    target = spark.createDataFrame(target_rows or [(0, 0)], "k int, v int").limit(
        len(target_rows)
    )
    source = spark.createDataFrame(source_rows or [(0, 0)], "k int, v int").limit(
        len(source_rows)
    )
    order = [F.col("v").desc()]
    once = merge_upsert(target, source, ["k"], dedup_order=order)
    twice = merge_upsert(once, source, ["k"], dedup_order=order)
    a = sorted(map(tuple, once.collect()))
    assert a == sorted(map(tuple, twice.collect()))
    # merged result is unique on the PK
    keys = [k for k, _ in a]
    assert len(keys) == len(set(keys))


@given(
    words_a=st.lists(st.sampled_from("abcdefg"), min_size=3, max_size=10),
    words_b=st.lists(st.sampled_from("abcdefg"), min_size=3, max_size=10),
)
@settings(**SETTINGS)
def test_jaccard_bounds_and_self_similarity(spark, words_a, words_b):
    df = spark.createDataFrame(
        [(1, " ".join(words_a)), (2, " ".join(words_b)), (3, " ".join(words_a))],
        "doc_id int, text string",
    )
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ngram_jaccard_pairs(df, "text", "doc_id", 0.0).collect()}
    for j in pairs.values():
        assert 0.0 <= j <= 1.0
    # identical docs 1 and 3 must be found with jaccard exactly 1
    assert pairs.get((1, 3)) == 1.0


class TestChunkOverlapProperties:
    def test_full_coverage_any_geometry(self, spark):
        """Property (hypothesis-driven geometry grid): for any
        (n, window, stride) the windows cover every token exactly,
        chunk count matches the closed form, overlaps equal
        window - stride except at the tail."""
        from hypothesis import given, settings, strategies as st

        from azure_data_engineering_spark.operators.chunking import (
            chunk_by_tokens_overlap,
        )

        cases = []

        @settings(max_examples=25, deadline=None)
        @given(
            n=st.integers(min_value=0, max_value=60),
            window=st.integers(min_value=1, max_value=12),
            data=st.data(),
        )
        def collect_cases(n, window, data):
            stride = data.draw(st.integers(min_value=1, max_value=window))
            cases.append((n, window, stride))

        collect_cases()
        # evaluate all drawn geometries in ONE Spark job
        rows = [
            (i, n, window, stride, " ".join(f"t{j}" for j in range(n)))
            for i, (n, window, stride) in enumerate(cases)
        ]
        import math

        by_geo = {}
        for i, n, window, stride, text in rows:
            df = spark.createDataFrame([(i, text)], "doc_id long, text string")
            got = chunk_by_tokens_overlap(
                df, "doc_id", "text", window, stride, chunk_text=False
            ).collect()
            by_geo[(n, window, stride)] = got
        for (n, window, stride), got in by_geo.items():
            expect_chunks = math.ceil(max(n - window, 0) / stride) + 1
            assert len(got) == expect_chunks, (n, window, stride)
            covered = set()
            for r in got:
                assert r.token_len <= window
                covered.update(range(r.token_start, r.token_start + r.token_len))
            assert covered == set(range(n)), (n, window, stride)
