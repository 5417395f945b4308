"""Excel ingest with multi-sheet fan-out.

Reference behavior (SharedCode/HelperFunction.py:9-43 xls2csv):
workbook → selected sheets ("all" or comma-list, :22-25) → one output
per sheet named `{sanitized_basename}_{sheet}` (:30-31), cells
stringified row-by-row with the destructive sanitize chain (:36-41).

Spark-first design:
- few/small files: driver-side parse → createDataFrame per sheet;
- many/large files (the 100 TB shape): `spark.read.format("binaryFile")`
  over the folder, then mapInPandas fans each workbook's sheets out on
  executors — the driver never holds file bytes.

One parser, on the driver and on every executor: the stdlib reader
below (zipfile + ElementTree over the public OOXML package format —
ECMA-376: xl/workbook.xml for sheet order, xl/_rels for sheet targets,
xl/sharedStrings.xml, and shared/inline/numeric/boolean cell types),
so a workbook ingests to the same strings wherever it is parsed (a
boolean is "TRUE"/"FALSE", a date its stored serial). No pip dependency
needed to ingest real .xlsx files.
"""

from __future__ import annotations

import io
import os
import re
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from azure_data_engineering_spark.functions.sanitize import sanitize_cell

# ------------------------------------------------------------------
# Stdlib OOXML reader/writer (public format, ECMA-376 SpreadsheetML).
# Reader handles shared strings, inline strings, numbers, booleans,
# sparse cells (A1 references with gaps), and multi-run rich text.

def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _col_to_idx(ref: str) -> int:
    """'A'->0, 'Z'->25, 'AA'->26 (column part of an A1 reference)."""
    n = 0
    for ch in ref:
        n = n * 26 + (ord(ch) - ord("A") + 1)
    return n - 1


def _text_of(elem) -> str:
    """Concatenated <t> runs under an <si>/<is> (rich text safe)."""
    return "".join(t.text or "" for t in elem.iter() if _local(t.tag) == "t")


def parse_xlsx_bytes(payload: bytes) -> dict[str, list[list[str]]]:
    """Parse an .xlsx workbook from bytes with the stdlib only —
    zipfile + ElementTree over the OOXML package. Returns the loader
    contract shape: {sheet_name: rows of stringified cells}, sheets in
    workbook order (HelperFunction.py:27's sheet iteration)."""
    import zipfile
    from xml.etree import ElementTree as ET

    zf = zipfile.ZipFile(io.BytesIO(payload))
    names = set(zf.namelist())

    shared: list[str] = []
    if "xl/sharedStrings.xml" in names:
        for si in ET.fromstring(zf.read("xl/sharedStrings.xml")):
            if _local(si.tag) == "si":
                shared.append(_text_of(si))

    rel_map: dict[str, str] = {}
    if "xl/_rels/workbook.xml.rels" in names:
        for rel in ET.fromstring(zf.read("xl/_rels/workbook.xml.rels")):
            rel_map[rel.get("Id", "")] = rel.get("Target", "")

    book: dict[str, list[list[str]]] = {}
    sheet_no = 0
    for elem in ET.fromstring(zf.read("xl/workbook.xml")).iter():
        if _local(elem.tag) != "sheet":
            continue
        sheet_no += 1
        sheet_name = elem.get("name", f"sheet{sheet_no}")
        rid = next((v for k, v in elem.attrib.items() if _local(k) == "id"), None)
        target = rel_map.get(rid or "", f"worksheets/sheet{sheet_no}.xml")
        target = target if target.startswith("xl/") else "xl/" + target.lstrip("/")
        rows: list[list[str]] = []
        for row in ET.fromstring(zf.read(target)).iter():
            if _local(row.tag) != "row":
                continue
            cells: dict[int, str] = {}
            for c in row:
                if _local(c.tag) != "c":
                    continue
                ref = c.get("r")
                m = re.match(r"[A-Z]+", ref) if ref else None
                idx = _col_to_idx(m.group()) if m else len(cells)
                ctype = c.get("t", "n")
                v = next((ch for ch in c if _local(ch.tag) == "v"), None)
                is_elem = next((ch for ch in c if _local(ch.tag) == "is"), None)
                if ctype == "s" and v is not None:
                    cells[idx] = shared[int(v.text or "0")]
                elif ctype == "inlineStr" and is_elem is not None:
                    cells[idx] = _text_of(is_elem)
                elif ctype == "b" and v is not None:
                    cells[idx] = "TRUE" if (v.text or "").strip() == "1" else "FALSE"
                else:  # n / str / d — take the raw stored text
                    cells[idx] = (v.text or "") if v is not None else ""
            width = max(cells) + 1 if cells else 0
            rows.append([cells.get(i, "") for i in range(width)])
        book[sheet_name] = rows
    return book


def write_minimal_xlsx(path: str, sheets: dict[str, list[list[str]]]) -> None:
    """Write a minimal valid .xlsx (inline-string cells only) with the
    stdlib — fixture support so Excel ingest is testable end-to-end
    without any Excel library installed. Not a general writer."""
    import zipfile
    from xml.sax.saxutils import escape

    sheet_names = list(sheets)
    ct_overrides = "".join(
        f'<Override PartName="/xl/worksheets/sheet{i + 1}.xml" '
        f'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        for i in range(len(sheet_names))
    )
    content_types = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
        '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        '<Default Extension="xml" ContentType="application/xml"/>'
        '<Override PartName="/xl/workbook.xml" '
        'ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        f"{ct_overrides}</Types>"
    )
    root_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        '<Relationship Id="rId1" '
        'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" '
        'Target="xl/workbook.xml"/></Relationships>'
    )
    wb_sheets = "".join(
        f'<sheet name="{escape(n)}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, n in enumerate(sheet_names)
    )
    workbook = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
        'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
        f"<sheets>{wb_sheets}</sheets></workbook>"
    )
    wb_rels = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
        + "".join(
            f'<Relationship Id="rId{i + 1}" '
            'Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" '
            f'Target="worksheets/sheet{i + 1}.xml"/>'
            for i in range(len(sheet_names))
        )
        + "</Relationships>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("[Content_Types].xml", content_types)
        zf.writestr("_rels/.rels", root_rels)
        zf.writestr("xl/workbook.xml", workbook)
        zf.writestr("xl/_rels/workbook.xml.rels", wb_rels)
        for i, name in enumerate(sheet_names):
            body = "".join(
                "<row>"
                + "".join(
                    f'<c t="inlineStr"><is><t xml:space="preserve">{escape(str(cell))}</t></is></c>'
                    for cell in row
                )
                + "</row>"
                for row in sheets[name]
            )
            zf.writestr(
                f"xl/worksheets/sheet{i + 1}.xml",
                '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
                '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">'
                f"<sheetData>{body}</sheetData></worksheet>",
            )

# (sheet_name -> list of rows, each row a list of cells) — the minimal
# workbook shape the reference iterates (HelperFunction.py:27,34-35).
WorkbookLoader = Callable[[str], dict[str, list[list[str]]]]


def sanitize_basename(path: str) -> str:
    """`re.sub('[^A-Za-z0-9]+','')` on the file basename
    (HelperFunction.py:18-19)."""
    base = os.path.splitext(os.path.basename(path))[0]
    return re.sub(r"[^A-Za-z0-9]+", "", base)


def select_sheets(all_sheets: Iterable[str], sheet_list: str = "all") -> list[str]:
    """Sheet selection: 'all' or comma-separated names
    (HelperFunction.py:22-25)."""
    names = list(all_sheets)
    if sheet_list == "all":
        return names
    wanted = [s.strip() for s in sheet_list.split(",")]
    return [s for s in names if s in wanted]


def _default_loader(path: str) -> dict[str, list[list[str]]]:
    with open(path, "rb") as fh:
        return parse_xlsx_bytes(fh.read())


def ingest_excel_distributed(
    spark: SparkSession,
    dir_path: str,
    glob: str = "*.xls*",
    sheet_list: str = "all",
    sanitize: bool = False,
    bytes_loader=None,
) -> DataFrame:
    """Many-files ingest (the 100 TB shape): `binaryFile` scan over the
    folder → mapInPandas fans each workbook's sheets out ON EXECUTORS —
    the driver never holds file bytes (vs the reference's one-at-a-time
    driver loop, adffunction/__init__.py:91-104).

    Returns one long DataFrame: (source_name, sheet, row_idx, cells
    array<string>) — cells stay schema-less all-string like the
    reference's CSV stage. bytes_loader(name, payload) -> {sheet:
    rows}; defaults to parse_xlsx_bytes, tests inject a fake.
    """
    import re as _re

    from collections.abc import Iterator

    import pandas as pd

    if bytes_loader is None:

        def bytes_loader(name: str, payload: bytes):
            return parse_xlsx_bytes(payload)

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .option("recursiveFileLookup", "true")
        .load(dir_path)
        .select("path", "content")
    )

    def fan_out(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                base = _re.sub(r"[^A-Za-z0-9]+", "", os.path.splitext(os.path.basename(row["path"]))[0])
                book = bytes_loader(row["path"], row["content"])
                for sheet in select_sheets(book.keys(), sheet_list):
                    for i, cells in enumerate(book[sheet]):
                        out.append((f"{base}_{sheet}", sheet, i, [str(c) for c in cells]))
            yield pd.DataFrame(out, columns=["source_name", "sheet", "row_idx", "cells"])

    df = files.mapInPandas(
        fan_out, schema="source_name string, sheet string, row_idx int, cells array<string>"
    )
    if sanitize:
        df = df.withColumn(
            "cells", F.transform(F.col("cells"), lambda c: sanitize_cell(c))
        )
    return df


def ingest_excel(
    spark: SparkSession,
    path: str,
    sheet_list: str = "all",
    sanitize: bool = False,
    workbook_loader: WorkbookLoader | None = None,
) -> dict[str, DataFrame]:
    """Ingest one workbook → {output_name: DataFrame of all-string cols}.

    Output naming matches the reference: `{sanitized_basename}_{sheet}`
    (HelperFunction.py:30-31). No header handling, no type inference —
    the header row is data, like the reference (:34-42). sanitize=True
    opts into the destructive cell chain (:36-41) — opt-in, not silent
    (SURVEY.md §2A quirks).
    """
    loader = workbook_loader or _default_loader
    book = loader(path)
    base = sanitize_basename(path)
    out: dict[str, DataFrame] = {}
    for sheet in select_sheets(book.keys(), sheet_list):
        rows = book[sheet]
        width = max((len(r) for r in rows), default=0)
        cols = [f"c{i}" for i in range(width)]
        padded = [[("" if i >= len(r) or r[i] is None else str(r[i])) for i in range(width)] for r in rows]
        df = spark.createDataFrame(padded, schema=cols) if rows else spark.createDataFrame([], schema=", ".join(f"{c} string" for c in cols) or "c0 string")
        if sanitize:
            df = df.select(*[sanitize_cell(df[c]).alias(c) for c in df.columns])
        out[f"{base}_{sheet}"] = df
    return out
