"""Connector tests: pipe-CSV round trip, Excel ingest fan-out,
file listing, multimodal plumbing."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from azure_data_engineering_spark import pipeline as P
from azure_data_engineering_spark.sources.csv_pipe import read_pipe_csv, write_pipe_csv
from azure_data_engineering_spark.sources.excel import sanitize_basename, select_sheets, write_minimal_xlsx
from azure_data_engineering_spark.sources.listing import list_files
from azure_data_engineering_spark.sources.multimodal import decode_metadata, with_binary_payload


class TestPipeCsv:
    def test_round_trip_all_string(self, spark, tmp_path):
        df = spark.createDataFrame([("a", "1"), ("b", "2")], "c0 string, c1 string")
        path = str(tmp_path / "out")
        write_pipe_csv(df, path)
        back = read_pipe_csv(spark, path)
        assert sorted(map(tuple, back.collect())) == [("a", "1"), ("b", "2")]
        # reference semantics: headerless, all-string
        assert all(f.dataType.simpleString() == "string" for f in back.schema)

    def test_overwrite_truncates(self, spark, tmp_path):
        path = str(tmp_path / "out")
        write_pipe_csv(spark.createDataFrame([("x",)], "c string"), path)
        write_pipe_csv(spark.createDataFrame([("y",)], "c string"), path, mode="overwrite")
        assert [r["_c0"] for r in read_pipe_csv(spark, path).collect()] == ["y"]


FAKE_BOOK = {
    "Data": [["h1", "h2"], ["a,b", "c'd"], ["x/y", "é"]],
    "Other": [["1"]],
}


class TestExcelIngest:
    def test_basename_sanitization(self):
        # HelperFunction.py:18-19
        assert sanitize_basename("/tmp/My Book-2024 (v2).xlsx") == "MyBook2024v2"

    def test_sheet_selection(self):
        # HelperFunction.py:22-25
        assert select_sheets(["A", "B", "C"], "all") == ["A", "B", "C"]
        assert select_sheets(["A", "B", "C"], "B, C") == ["B", "C"]
        assert select_sheets(["A"], "missing") == []

    def test_fan_out_naming_and_content(self, spark, tmp_path):
        out = _ingest_sheets(spark, tmp_path, "Src Book.xlsx", FAKE_BOOK, sanitize=False)
        assert set(out) == {"SrcBook_Data", "SrcBook_Other"}
        # no header handling: the header row is data (HelperFunction.py:34-42)
        assert ("h1", "h2") in out["SrcBook_Data"]

    def test_sanitize_opt_in(self, spark, tmp_path):
        rows = _ingest_sheets(spark, tmp_path, "b.xlsx", FAKE_BOOK, sanitize=True)["b_Data"]
        assert ("ab", "cd") in rows  # comma and quote deleted
        assert ("x-y", "") in rows  # slash->dash, non-ascii stripped

    def test_ragged_rows_padded(self, spark, tmp_path):
        out = _ingest_sheets(spark, tmp_path, "r.xlsx", {"S": [["a"], ["b", "c"]]}, sanitize=False)
        assert out["r_S"] == [("a", ""), ("b", "c")]


def _ingest_sheets(spark, tmp_path, name, book, sanitize):
    """`book` as a real workbook `name` through the exceltocsv step:
    {folder name: sorted rows of its pipe CSV, parsed by Python's csv
    module so an empty cell reads back as "" (Spark's reader makes it
    null)}."""
    import csv
    import glob

    write_minimal_xlsx(str(tmp_path / name), book)
    res = P.ingest_excel(spark, str(tmp_path / name), str(tmp_path / "out"), sanitize=sanitize)
    assert res.ok, res.detail
    out = {}
    for sheet in res.detail["sheets"]:
        rows = []
        for part in glob.glob(str(tmp_path / "out" / sheet / "part-*")):
            with open(part, newline="") as fh:
                rows += [tuple(r) for r in csv.reader(fh, delimiter="|")]
        out[sheet] = sorted(rows)
    return out


class TestExcelDistributed:
    def test_executor_side_fan_out(self, spark, tmp_path):
        # fake "workbooks": content bytes drive the fake parser
        (tmp_path / "Book One.xlsx").write_bytes(b"12")
        (tmp_path / "book2.xlsx").write_bytes(b"1")
        (tmp_path / "skip.txt").write_bytes(b"zz")

        def fake_loader(name, payload):
            # one sheet per byte of content, two rows each
            return {
                f"S{i}": [["h1", "h2"], [f"v{i},x", "y/z"]] for i in range(len(payload))
            }

        from azure_data_engineering_spark.sources.excel import ingest_excel_distributed

        out = ingest_excel_distributed(
            spark, str(tmp_path), glob="*.xls*", bytes_loader=fake_loader, sanitize=True
        )
        rows = out.collect()
        names = {r["source_name"] for r in rows}
        # reference naming {sanitized_basename}_{sheet}; .txt filtered by glob
        assert names == {"BookOne_S0", "BookOne_S1", "book2_S0"}
        # sanitize applied inside the cells array (comma gone, slash->dash)
        cells = {tuple(r["cells"]) for r in rows if r["row_idx"] == 1}
        assert ("v0x", "y-z") in cells

    def test_sheet_selection_distributed(self, spark, tmp_path):
        (tmp_path / "b.xlsx").write_bytes(b"123")
        from azure_data_engineering_spark.sources.excel import ingest_excel_distributed

        out = ingest_excel_distributed(
            spark, str(tmp_path), sheet_list="S1",
            bytes_loader=lambda n, p: {f"S{i}": [["x"]] for i in range(3)},
        )
        assert {r["sheet"] for r in out.collect()} == {"S1"}


_MAIN = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"


def _parse(sheet: str, shared: str | None = None, ns: str | None = _MAIN) -> list[list[str]]:
    """Rows of a one-sheet workbook through `parse_xlsx_bytes`. With
    `ns` set, `sheet` is the <sheetData> body and `shared` the <sst>
    body, both wrapped in that default namespace; with `ns=None` they
    are whole parts."""
    import io
    import zipfile

    from azure_data_engineering_spark.sources.excel import parse_xlsx_bytes

    if ns is not None:
        sheet = f'<worksheet xmlns="{ns}"><sheetData>{sheet}</sheetData></worksheet>'
        shared = None if shared is None else f'<sst xmlns="{ns}">{shared}</sst>'
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr(
            "xl/workbook.xml",
            f'<workbook xmlns="{_MAIN}" '
            'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
            '<sheets><sheet name="S" sheetId="1" r:id="rId1"/></sheets></workbook>',
        )
        zf.writestr(
            "xl/_rels/workbook.xml.rels",
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/></Relationships>',
        )
        if shared is not None:
            zf.writestr("xl/sharedStrings.xml", '<?xml version="1.0" encoding="UTF-8"?>' + shared)
        zf.writestr("xl/worksheets/sheet1.xml", '<?xml version="1.0" encoding="UTF-8"?>' + sheet)
    book = parse_xlsx_bytes(buf.getvalue())
    assert list(book) == ["S"]
    return book["S"]


class TestStdlibXlsx:
    """Real .xlsx bytes through the stdlib OOXML reader — no openpyxl,
    no injected loader: the auto-selected default engine path."""

    def test_roundtrip_and_escaping(self, tmp_path):
        from azure_data_engineering_spark.sources.excel import parse_xlsx_bytes, write_minimal_xlsx

        p = str(tmp_path / "t.xlsx")
        sheets = {"S1": [["a", "b <&> \"q\"", ""], ["1", "2.5", "x|y"]], "S2": [["only"]]}
        write_minimal_xlsx(p, sheets)
        assert parse_xlsx_bytes(open(p, "rb").read()) == sheets

    def test_shared_strings_and_sparse_cells(self):
        """Hand-built workbook exercising shared strings, numeric and
        boolean cells, and a sparse row (cell C skipped via A1 refs) —
        the shapes real Excel writers emit."""
        import io
        import zipfile

        from azure_data_engineering_spark.sources.excel import parse_xlsx_bytes

        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w") as zf:
            zf.writestr(
                "xl/workbook.xml",
                '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
                'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
                '<sheets><sheet name="Data" sheetId="1" r:id="rId1"/></sheets></workbook>',
            )
            zf.writestr(
                "xl/_rels/workbook.xml.rels",
                '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
                '<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/></Relationships>',
            )
            zf.writestr(
                "xl/sharedStrings.xml",
                '<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
                "<si><t>hello</t></si><si><r><t>ri</t></r><r><t>ch</t></r></si></sst>",
            )
            zf.writestr(
                "xl/worksheets/sheet1.xml",
                '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>'
                '<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1"><v>42</v></c>'
                '<c r="D1" t="b"><v>1</v></c></row>'
                '<row r="2"><c r="A2" t="s"><v>1</v></c></row>'
                "</sheetData></worksheet>",
            )
        book = parse_xlsx_bytes(buf.getvalue())
        # sparse row padded through skipped C; rich-text runs concatenated
        assert book == {"Data": [["hello", "42", "", "TRUE"], ["rich"]]}

    # The cell shapes below pin the reader's output on what real Excel
    # writers (and hand-edited packages) emit beyond the happy path.

    def test_prefixed_namespace(self):
        sheet = (
            f'<x:worksheet xmlns:x="{_MAIN}"><x:sheetData>'
            '<x:row r="1"><x:c r="A1" t="inlineStr"><x:is><x:t>a</x:t></x:is></x:c>'
            '<x:c r="C1"><x:v>3</x:v></x:c></x:row>'
            '<x:row r="2"><x:c r="B2" t="s"><x:v>0</x:v></x:c></x:row>'
            "</x:sheetData></x:worksheet>"
        )
        shared = f'<x:sst xmlns:x="{_MAIN}"><x:si><x:t>shared</x:t></x:si></x:sst>'
        assert _parse(sheet, shared, ns=None) == [["a", "", "3"], ["", "shared"]]

    def test_strict_ooxml_namespace(self):
        strict = "http://purl.oclc.org/ooxml/spreadsheetml/main"
        sheet = (
            '<row><c r="A1" t="s"><v>1</v></c><c r="B1" t="b"><v>0</v></c>'
            '<c r="C1"><v>1.5</v></c></row>'
        )
        shared = "<si><t>zero</t></si><si><t>one</t></si>"
        assert _parse(sheet, shared, ns=strict) == [["one", "FALSE", "1.5"]]

    def test_cells_without_r_attribute(self):
        """A cell with no `r` lands at the number of cells already seen
        in its row: consecutive when no cell has `r`, and possibly
        before or over a referenced column when the row mixes both."""
        sheet = (
            "<row><c><v>1</v></c><c><v>2</v></c><c><v>3</v></c></row>"
            '<row><c r="C2"><v>c</v></c><c><v>b</v></c></row>'
            '<row><c r="A3"><v>a</v></c><c r="B3"><v>b</v></c><c><v>x</v></c></row>'
            '<row><c r="A4"><v>a</v></c><c r="C4"><v>c</v></c><c><v>x</v></c></row>'
        )
        assert _parse(sheet) == [["1", "2", "3"], ["", "b", "c"], ["a", "b", "x"], ["a", "", "x"]]

    def test_cdata_and_character_entities(self):
        sheet = (
            '<row><c r="A1" t="inlineStr"><is><t><![CDATA[a<b]]>&amp;&#x4E2D;&lt;</t></is></c>'
            '<c r="B1" t="s"><v>0</v></c><c r="C1" t="str"><v>x &gt; y</v></c></row>'
        )
        shared = "<si><t>&quot;q&quot; &amp; &#233;</t></si>"
        assert _parse(sheet, shared) == [["a<b&中<", '"q" & é', "x > y"]]

    def test_multi_run_inline_rich_text(self):
        sheet = (
            '<row><c r="A1" t="inlineStr"><is>'
            "<r><rPr><b/><sz val=\"11\"/></rPr><t>bo</t></r>"
            '<r><t xml:space="preserve">ld </t></r><r><rPr><i/></rPr><t>text</t></r>'
            "</is></c></row>"
        )
        assert _parse(sheet) == [["bold text"]]

    def test_formula_string_cell_takes_cached_value(self):
        sheet = (
            '<row><c r="A1" t="str"><f>CONCAT("a","b")</f><v>ab</v></c>'
            '<c r="B1"><f>1+1</f><v>2</v></c><c r="C1" t="str"><f>A1</f></c></row>'
        )
        assert _parse(sheet) == [["ab", "2", ""]]

    def test_error_cell(self):
        sheet = '<row><c r="A1" t="e"><v>#DIV/0!</v></c><c r="B1" t="e"><f>NA()</f><v>#N/A</v></c></row>'
        assert _parse(sheet) == [["#DIV/0!", "#N/A"]]

    def test_shared_string_cell_without_v(self):
        sheet = '<row><c r="A1" t="s"/><c r="B1" t="s"><f>X</f></c><c r="C1" t="s"><v>0</v></c></row>'
        assert _parse(sheet, "<si><t>only</t></si>") == [["", "", "only"]]

    def test_empty_v(self):
        sheet = '<row><c r="A1"><v/></c><c r="B1" t="b"><v></v></c><c r="C1" t="str"><v/></c></row>'
        assert _parse(sheet) == [["", "FALSE", ""]]

    def test_shared_string_phonetic_runs_are_concatenated(self):
        """Every <t> under an <si> joins the string, the phonetic
        (<rPh>) runs included."""
        shared = (
            "<si><t>漢字</t><rPh sb=\"0\" eb=\"2\"><t>カンジ</t></rPh>"
            '<phoneticPr fontId="1" type="noConversion"/></si>'
            "<si><r><t>a</t></r><rPh sb=\"0\" eb=\"1\"><t>b</t></rPh></si>"
        )
        sheet = '<row><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c></row>'
        assert _parse(sheet, shared) == [["漢字カンジ", "ab"]]

    def test_pipeline_ingest_real_file(self, spark, tmp_path):
        out = _ingest_sheets(
            spark, tmp_path, "Real Book.xlsx", {"Data": [["h1", "h2"], ["v1", "v2"]]}, sanitize=True
        )
        assert out == {"RealBook_Data": [("h1", "h2"), ("v1", "v2")]}

    def test_distributed_ingest_real_files(self, spark, tmp_path):
        from azure_data_engineering_spark.sources.excel import (
            ingest_excel_distributed,
            write_minimal_xlsx,
        )

        write_minimal_xlsx(str(tmp_path / "a.xlsx"), {"S": [["1"], ["2"]]})
        write_minimal_xlsx(str(tmp_path / "b.xlsx"), {"S": [["3"]]})
        out = ingest_excel_distributed(spark, str(tmp_path))  # no loader injected
        got = {(r["source_name"], r["row_idx"], tuple(r["cells"])) for r in out.collect()}
        assert got == {("a_S", 0, ("1",)), ("a_S", 1, ("2",)), ("b_S", 0, ("3",))}


class TestListing:
    def test_lists_metadata(self, spark, sf_dir):
        df = list_files(spark, sf_dir, glob="*.parquet")
        names = {r["name"] for r in df.collect()}
        assert "lineitem.parquet" in names
        assert df.filter(F.col("length") <= 0).count() == 0

    def test_name_predicates_like_reference(self, spark, sf_dir):
        # skip placeholder / non-xls filters (__init__.py:97-102) as
        # pushed-down DataFrame filters over the listing
        df = list_files(spark, sf_dir)
        kept = df.filter(~F.col("name").startswith("placeholder") & F.col("name").endswith(".parquet"))
        assert kept.count() == df.count()


class TestMultimodal:
    def test_plumbing_schema_and_determinism(self, spark):
        df = spark.createDataFrame([(1, "abc"), (2, "")], "doc_id bigint, text string")
        out = decode_metadata(with_binary_payload(df, "text", "doc_id"))
        rows = {r["id"]: r for r in out.collect()}
        assert rows[1]["n_bytes"] == 3 and rows[1]["width"] == 4 and rows[1]["height"] == 4
        assert rows[2]["n_bytes"] == 0
        assert rows[1]["media_type"] == "image/fake"

    def test_resize_aspect_fit(self, spark):
        from azure_data_engineering_spark.sources.multimodal import resize_metadata

        # 130 bytes -> fake decode (w=3, h=35); fit into 16x16 scales by
        # 16/35, shrink-only, floor, min 1
        df = spark.createDataFrame([(1, "x" * 130), (2, "y")], "doc_id bigint, text string")
        out = {r["id"]: r for r in resize_metadata(
            with_binary_payload(df, "text", "doc_id"), 16, 16).collect()}
        r = out[1]
        assert (r["width"], r["height"]) == (3, 35)
        assert (r["new_width"], r["new_height"]) == (max(int(3 * 16 / 35), 1), 16)
        small = out[2]  # 1 byte -> 2x2, already inside the box: unchanged
        assert (small["new_width"], small["new_height"]) == (small["width"], small["height"])

    def test_feature_vector_shape(self, spark):
        from azure_data_engineering_spark.sources.multimodal import extract_features

        df = spark.createDataFrame([(1, "aa 12")], "doc_id bigint, text string")
        r = extract_features(with_binary_payload(df, "text", "doc_id")).collect()[0]
        assert r["n_bytes"] == 5
        assert r["features"] == [2 / 5, 1 / 5, 2 / 5]  # vowels, spaces, digits


def _compacted(spark, df, n_files, sort_cols):
    """Commit df as a snapshot table and lay it out with
    snapshot_compact, choosing target_bytes from the bytes the v1
    manifest names so that `n_files` files are planned; returns the
    compacted snapshot."""
    import math
    import tempfile

    from azure_data_engineering_spark.sources import snapshot as sn

    table = tempfile.mkdtemp(prefix="layout_") + "/docs"
    sn.snapshot_write(df, table)
    size = sum(os.path.getsize(os.path.join(table, f)) for f in sn._read_manifest(table, 1))
    assert sn.snapshot_compact(
        spark, table, target_bytes=math.ceil(size / n_files), sort_cols=sort_cols
    ) == 2
    return sn.snapshot_read(spark, table)


class TestClusterWrite:
    def test_files_cover_disjoint_key_ranges(self, spark, sf_dir):
        """The point of a clustered layout: each file of the compacted
        snapshot owns a narrow, non-overlapping slice of the cluster-key
        space, so parquet min/max stats can skip everything outside a
        filter's range. Assert pairwise disjointness of per-file
        (lang, doc_id) ranges."""
        from azure_data_engineering_spark.catalog import load_table

        d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
        back = _compacted(spark, d, 6, ["lang", "doc_id"])
        assert back.columns == d.columns

        ranges = []
        for f in back.inputFiles():
            part = spark.read.parquet(f)
            row = part.selectExpr(
                "min(struct(lang, doc_id)) AS lo", "max(struct(lang, doc_id)) AS hi"
            ).collect()[0]
            if row["lo"] is not None:
                ranges.append((tuple(row["lo"]), tuple(row["hi"])))
        assert len(ranges) >= 2  # range partitioner actually split the data
        ranges.sort()
        for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
            assert hi <= lo, f"overlapping file ranges: {hi} > {lo}"

    def test_clustered_values_identical(self, spark, sf_dir):
        from azure_data_engineering_spark.catalog import load_table

        d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
        back = _compacted(spark, d, 8, ["doc_id"])
        assert back.columns == d.columns
        assert back.count() == d.count()
        assert back.exceptAll(d).count() == 0


class TestZOrder:
    def test_z_value_matches_reference_interleave(self, spark):
        from azure_data_engineering_spark.sources.layout import z_value

        def ref(x, y, bits=16):
            z = 0
            for i in range(bits):
                z |= ((x >> i) & 1) << (2 * i + 1) | ((y >> i) & 1) << (2 * i)
            return z

        import pyspark.sql.functions as F

        pairs = [(0, 0), (1, 0), (0, 1), (3, 5), (255, 1), (65535, 65535), (12345, 54321)]
        df = spark.createDataFrame(pairs, "x long, y long")
        got = df.select("x", "y", z_value("x", "y").alias("z")).collect()
        for r in got:
            assert r["z"] == ref(r["x"], r["y"]), (r["x"], r["y"])

    def test_zorder_files_are_2d_local(self, spark, sf_dir):
        """Each Z-ordered file must cover a bounded box in BOTH
        dimensions — the whole point vs linear sort, where the
        trailing column spans its full range in every file. Assert the
        mean per-file n_chars span is well below the global span."""
        from azure_data_engineering_spark.catalog import load_table
        from azure_data_engineering_spark.sources.layout import z_value

        d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
        glob_span = d.selectExpr("max(n_chars) - min(n_chars) AS s").collect()[0]["s"]
        back = _compacted(spark, d, 8, [z_value("doc_id", "n_chars")])
        assert back.columns == d.columns

        spans = []
        for f in back.inputFiles():
            r = spark.read.parquet(f).selectExpr(
                "max(n_chars) - min(n_chars) AS s", "count(*) AS n"
            ).collect()[0]
            if r["n"] and r["n"] > 10:
                spans.append(r["s"])
        assert len(spans) >= 4
        assert sum(spans) / len(spans) < 0.8 * glob_span


class TestFixedWidth:
    def test_roundtrip_with_truncation_and_nulls(self, spark, tmp_path):
        """Values wider than their field hard-truncate (no column
        shift); malformed numerics parse to NULL, not errors."""
        from pyspark.sql import functions as F

        from azure_data_engineering_spark.sources.fixed_width import (
            read_fixed_width,
            write_fixed_width,
        )

        df = spark.createDataFrame(
            [(1, "ABCDEFGH", 10), (22, "xy", 999999)], ["k", "name", "v"]
        )
        path = str(tmp_path / "fw")
        write_fixed_width(df, path, {"k": 4, "name": 5, "v": 4})
        back = read_fixed_width(
            spark,
            path,
            [("k", 1, 4, "long"), ("name", 5, 5, "string"), ("v", 10, 4, "long")],
        )
        rows = {r.k: (r.name, r.v) for r in back.collect()}
        assert rows[1] == ("ABCDE", 10)  # name truncated to width 5
        assert rows[22] == ("xy", 9999)  # v truncated: 999999 -> '9999'

        # malformed numeric field -> NULL (permissive parse)
        (tmp_path / "fw" / "bad.txt").write_text("12  oops ????\n")
        back2 = read_fixed_width(
            spark,
            path,
            [("k", 1, 4, "long"), ("name", 5, 5, "string"), ("v", 10, 4, "long")],
        )
        bad = [r for r in back2.collect() if r.name == "oops"][0]
        assert bad.k == 12 and bad.v is None

    def test_parse_is_codegen_only(self, spark, tmp_path):
        """The read plan must be scan+project — no Python eval node."""
        from azure_data_engineering_spark.sources.fixed_width import (
            read_fixed_width,
            write_fixed_width,
        )

        df = spark.createDataFrame([(5, "a")], ["k", "s"])
        path = str(tmp_path / "fw2")
        write_fixed_width(df, path, {"k": 3, "s": 2})
        plan = read_fixed_width(
            spark, path, [("k", 1, 3, "long"), ("s", 4, 2, "string")]
        )._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestStreamingPythonDataSource:
    def test_offsets_survive_restart_exactly_once(self, spark, tmp_path):
        """First availableNow run drains the bounded stream; a restart
        from the same checkpoint must see committed == latest offset
        and emit ZERO rows — the connector-level exactly-once proof."""
        from azure_data_engineering_spark.sources.pydatasource import register

        register(spark)
        ckpt = str(tmp_path / "ckpt")
        out = str(tmp_path / "out")

        def run():
            # file sink: the one that actually supports checkpoint
            # recovery (memory sink refuses to resume)
            q = (
                spark.readStream.format("sequence_stream")
                .option("n", "500")
                .option("parts", "4")
                .load()
                .writeStream.format("parquet")
                .outputMode("append")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            return spark.read.parquet(out)

        first = run()
        assert first.count() == 500
        assert first.agg({"i": "min"}).collect()[0][0] == 0
        assert first.agg({"i": "max"}).collect()[0][0] == 499
        # restart from the same checkpoint: committed == latest offset,
        # so the resumed query must append NOTHING
        second = run()
        assert second.count() == 500

    def test_partition_parallel_batch_read(self, spark):
        from azure_data_engineering_spark.sources.pydatasource import register

        register(spark)
        df = (
            spark.readStream.format("sequence_stream")
            .option("n", "64")
            .option("parts", "8")
            .load()
        )
        assert df.isStreaming
