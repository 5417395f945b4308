"""Corpus-hygiene operators: PII redaction, repetition signals,
benchmark decontamination, TF-IDF, frequency capping, global shuffle
index, jsonl round-trip, small-file compaction."""

from __future__ import annotations

from pyspark.sql import functions as F

from azure_data_engineering_spark.functions.pii import has_pii, pii_counts, redact_pii
from azure_data_engineering_spark.operators.decontaminate import contaminated_ids, decontaminate
from azure_data_engineering_spark.operators.quality import (
    duplicate_unit_fraction,
    top_ngram_stats,
    word_ngrams,
)
from azure_data_engineering_spark.operators.sampling import cap_per_group, global_sorted_index
from azure_data_engineering_spark.operators.tfidf import top_terms_per_doc, tfidf
from azure_data_engineering_spark.sources.jsonl import read_jsonl, write_jsonl
from azure_data_engineering_spark.sources.snapshot import (
    snapshot_compact,
    snapshot_read,
    snapshot_write,
)


class TestPii:
    def test_redacts_each_class_in_order(self, spark):
        df = spark.createDataFrame(
            [(1, "mail a.b-c@ex.co.uk, ssn 123-45-6789, call 555-123-4567 or 555.123.4567, host 10.0.255.1 done")],
            "id long, text string",
        )
        out = df.select(redact_pii(F.col("text")).alias("t")).first()["t"]
        assert out == "mail <EMAIL>, ssn <SSN>, call <PHONE> or <PHONE>, host <IPV4> done"

    def test_dotted_phone_not_eaten_by_ip(self, spark):
        # 555.123.4567 must redact as PHONE (applied first), and a real
        # IP right next to it must still be found.
        df = spark.createDataFrame([(1, "p 555.123.4567 ip 1.2.3.4")], "id long, text string")
        assert df.select(redact_pii(F.col("text")).alias("t")).first()["t"] == "p <PHONE> ip <IPV4>"

    def test_counts_and_predicate(self, spark):
        df = spark.createDataFrame(
            [(1, "x@y.io and z@w.dev"), (2, "clean text, version 1.2 only")],
            "id long, text string",
        )
        counts = {name: c.alias(name) for name, c in pii_counts(F.col("text")).items()}
        r = {row["id"]: row for row in df.select("id", *counts.values(), has_pii(F.col("text")).alias("any")).collect()}
        assert r[1]["email"] == 2 and r[1]["any"] is True
        assert r[2]["email"] == 0 and r[2]["ipv4"] == 0 and r[2]["any"] is False


class TestRepetition:
    def test_duplicate_unit_fraction(self, spark):
        df = spark.createDataFrame(
            [(1, "a b. c d. a b. e."), (2, "x. y. z."), (3, "")],
            "id long, text string",
        )
        out = {r["id"]: r["f"] for r in df.select("id", duplicate_unit_fraction(F.col("text")).alias("f")).collect()}
        assert abs(out[1] - 1 / 4) < 1e-9  # "a b" repeats: 1 dup of 4 units
        assert out[2] == 0.0 and out[3] == 0.0

    def test_word_ngrams_short_doc_empty(self, spark):
        df = spark.createDataFrame([(1, "solo"), (2, "two words here")], "id long, text string")
        out = {r["id"]: r["g"] for r in df.select("id", word_ngrams(F.col("text"), 2).alias("g")).collect()}
        assert out[1] == []
        assert out[2] == ["two words", "words here"]

    def test_top_ngram_stats(self, spark):
        df = spark.createDataFrame(
            [(1, "go go go go stop"), (2, "ab")],
            "id long, text string",
        )
        rows = {r["id"]: r for r in top_ngram_stats(df, "text", "id", n=2).collect()}
        assert rows[1]["top_gram"] == "go go" and rows[1]["top_gram_count"] == 3
        # 3 occurrences * len("go go")=5 / 16 chars
        assert abs(rows[1]["top_gram_char_frac"] - 15 / 16) < 1e-9
        assert rows[2]["top_gram"] is None and rows[2]["top_gram_char_frac"] == 0.0


class TestDecontaminate:
    def test_verbatim_overlap_detected(self, spark):
        train = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
                (2, "completely unrelated sentence about spark shuffle partitions and codegen"),
            ],
            "doc_id long, text string",
        )
        eval_set = spark.createDataFrame(
            [(100, "quiz: the quick brown fox jumps over the lazy dog near what?")],
            "doc_id long, text string",
        )
        bad = [r["doc_id"] for r in contaminated_ids(train, eval_set, k=8).collect()]
        assert bad == [1]
        kept = [r["doc_id"] for r in decontaminate(train, eval_set, k=8).collect()]
        assert kept == [2]

    def test_no_false_positive_below_k(self, spark):
        # 7-word shared run < k=8 → clean
        train = spark.createDataFrame(
            [(1, "one two three four five six seven DIFFERENT tail words here")],
            "doc_id long, text string",
        )
        eval_set = spark.createDataFrame(
            [(100, "one two three four five six seven OTHER ending entirely")],
            "doc_id long, text string",
        )
        assert contaminated_ids(train, eval_set, k=8).count() == 0


class TestTfidf:
    def test_textbook_values(self, spark):
        import math

        df = spark.createDataFrame(
            [(1, "apple apple banana"), (2, "banana cherry"), (3, "cherry cherry cherry")],
            "doc_id long, text string",
        )
        rows = {(r["doc_id"], r["term"]): r for r in tfidf(df, "text", "doc_id").collect()}
        # apple: tf=2 in doc1, df=1 → 2*ln(3)
        assert abs(rows[(1, "apple")]["tfidf"] - 2 * math.log(3)) < 1e-9
        # banana: df=2 → ln(3/2)
        assert abs(rows[(2, "banana")]["tfidf"] - math.log(1.5)) < 1e-9

    def test_top_terms_deterministic_rank(self, spark):
        df = spark.createDataFrame(
            [(1, "aa bb aa cc"), (2, "bb bb dd")],
            "doc_id long, text string",
        )
        out = top_terms_per_doc(df, "text", "doc_id", k=2).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r["doc_id"], []).append(r["term"])
        assert by_doc[1][0] == "aa"  # tf=2, unique to doc1
        assert len(by_doc[1]) == 2 and len(by_doc[2]) == 2


class TestCapAndShuffle:
    def test_cap_per_group_uniform_and_stable(self, spark):
        df = spark.range(1000).select(
            (F.col("id") % 4).cast("string").alias("grp"), F.col("id").alias("k")
        )
        capped = cap_per_group(df, ["grp"], "k", cap=50)
        sizes = {r["grp"]: r["n"] for r in capped.groupBy("grp").agg(F.count("*").alias("n")).collect()}
        assert sizes == {"0": 50, "1": 50, "2": 50, "3": 50}
        again = cap_per_group(df.repartition(13), ["grp"], "k", cap=50)
        assert {r["k"] for r in capped.collect()} == {r["k"] for r in again.collect()}

    def test_global_sorted_index_matches_naive(self, spark):
        from azure_data_engineering_spark.operators.sampling import shuffle_key

        df = spark.range(500).withColumnRenamed("id", "k")
        got = {r["k"]: r["train_pos"] for r in global_sorted_index(df, "k").collect()}
        naive = [r["k"] for r in df.orderBy(shuffle_key(F.col("k")), F.col("k")).collect()]
        assert got == {k: i for i, k in enumerate(naive)}
        assert sorted(got.values()) == list(range(500))


class TestJsonl:
    def test_roundtrip_preserves_values(self, spark, tmp_path):
        df = spark.createDataFrame(
            [(1, "a", 1.5), (2, "b", -0.25), (3, None, 0.0)],
            "id long, name string, score double",
        )
        p = str(tmp_path / "t.jsonl")
        write_jsonl(df, p)
        back = read_jsonl(spark, p, schema="id long, name string, score double")
        rows = {r["id"]: (r["name"], r["score"]) for r in back.collect()}
        assert rows == {1: ("a", 1.5), 2: ("b", -0.25), 3: (None, 0.0)}

    def test_permissive_catches_bad_lines(self, spark, tmp_path):
        p = tmp_path / "bad"
        p.mkdir()
        (p / "part-0.json").write_text('{"id": 1}\nnot json at all\n{"id": 3}\n')
        # cache() first: Spark disallows querying only _corrupt_record
        # straight off the raw file (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN)
        back = read_jsonl(spark, str(p), schema="id long", strict=False).cache()
        try:
            bad = back.filter(F.col("_corrupt_record").isNotNull()).count()
            assert bad == 1 and back.count() == 3
        finally:
            back.unpersist()

    def test_schema_required(self, spark):
        import pytest

        with pytest.raises(ValueError):
            read_jsonl(spark, "/nonexistent")


class TestCompaction:
    def test_compacts_many_small_files(self, spark, tmp_path):
        t = str(tmp_path / "tbl")
        snapshot_write(spark.range(10_000).repartition(40), t)
        before = len(snapshot_read(spark, t).inputFiles())
        assert before >= 40
        v = snapshot_compact(spark, t, target_bytes=10 * 1024 * 1024)
        assert v == 2
        assert len(snapshot_read(spark, t).inputFiles()) < before
        assert snapshot_read(spark, t).count() == 10_000

    def test_sorted_compaction_clusters(self, spark, tmp_path):
        t = str(tmp_path / "tbl2")
        snapshot_write(
            spark.range(5_000).select(F.col("id"), (F.col("id") % 97).alias("key")).repartition(20),
            t,
        )
        snapshot_compact(spark, t, target_bytes=8 * 1024, sort_cols=["key"])
        df = snapshot_read(spark, t)
        assert df.count() == 5_000
        assert len(df.inputFiles()) < 20
        # clustered: each file's key range should be narrow vs global range
        files = df.select(F.input_file_name().alias("f"), "key").groupBy("f").agg(
            (F.max("key") - F.min("key")).alias("spread")
        )
        spreads = [r["spread"] for r in files.collect()]
        assert len(spreads) > 1
        assert sum(spreads) / len(spreads) < 96  # strictly narrower than unclustered

    def test_pre_compaction_version_time_travels(self, spark, tmp_path):
        t = str(tmp_path / "tbl3")
        v1 = snapshot_write(spark.range(100).repartition(10), t)
        snapshot_compact(spark, t)

        def ids(version=None):
            return sorted(r.id for r in snapshot_read(spark, t, version=version).collect())

        assert ids(v1) == ids() == list(range(100))
        assert len(snapshot_read(spark, t, version=v1).inputFiles()) == 10
        assert len(snapshot_read(spark, t).inputFiles()) == 1


class TestLineDedup:
    def test_drops_cross_doc_units_keeps_order(self, spark):
        from azure_data_engineering_spark.operators.quality import drop_repeated_units

        df = spark.createDataFrame(
            [
                (1, "alpha first. shared boiler. alpha last"),
                (2, "beta only. shared boiler"),
                (3, "gamma one. shared boiler. gamma two"),
                (4, "all boiler here. shared boiler"),
            ],
            "doc_id int, text string",
        )
        out = {r.doc_id: r for r in drop_repeated_units(df, "text", "doc_id", min_docs=3).collect()}
        assert out[1].text == "alpha first. alpha last"  # order preserved
        assert out[2].text == "beta only"
        assert (out[1].n_units, out[1].n_kept) == (3, 2)
        # 'all boiler here' is unique so it survives; the shared unit is gone
        assert out[4].text == "all boiler here"

    def test_fully_boilerplate_doc_survives_empty(self, spark):
        from azure_data_engineering_spark.operators.quality import drop_repeated_units

        df = spark.createDataFrame(
            [(1, "same. same"), (2, "same"), (3, "same"), (4, "same. unique bit")],
            "doc_id int, text string",
        )
        out = {r.doc_id: r for r in drop_repeated_units(df, "text", "doc_id", min_docs=3).collect()}
        assert out[1].text == "" and out[1].n_kept == 0 and out[1].n_units == 2
        assert out[4].text == "unique bit"


class TestPmiCollocations:
    def test_planted_collocation_tops(self, spark):
        """'hong kong' always adjacent + both words rare elsewhere ->
        highest PMI; frequent independent words score low."""
        from azure_data_engineering_spark.operators.quality import pmi_collocations

        filler = "the of and to in for on at by it"
        rows = [(i, f"{filler} hong kong {filler}") for i in range(10)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        r = pmi_collocations(df, "text", "doc_id", window=2, min_count=5, k=5).collect()
        assert (r[0].w1, r[0].w2) == ("hong", "kong")
        assert r[0].n_pair == 10

    def test_window_bounds_pairs(self, spark):
        """window=1 admits only adjacent pairs."""
        from azure_data_engineering_spark.operators.quality import pmi_collocations

        rows = [(i, "a b c") for i in range(6)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        w1 = {(r.w1, r.w2) for r in
              pmi_collocations(df, "text", "doc_id", window=1, min_count=5, k=10).collect()}
        w2 = {(r.w1, r.w2) for r in
              pmi_collocations(df, "text", "doc_id", window=2, min_count=5, k=10).collect()}
        assert w1 == {("a", "b"), ("b", "c")}
        assert w2 == {("a", "b"), ("b", "c"), ("a", "c")}

    def test_min_count_filters_hapax_pairs(self, spark):
        from azure_data_engineering_spark.operators.quality import pmi_collocations

        rows = [(1, "unique singleton pair here")] + [
            (10 + i, "common common words words") for i in range(10)
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {(r.w1, r.w2) for r in
               pmi_collocations(df, "text", "doc_id", window=2, min_count=5, k=50).collect()}
        assert ("unique", "singleton") not in got and got
