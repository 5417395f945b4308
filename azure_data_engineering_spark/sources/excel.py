"""Excel ingest with multi-sheet fan-out.

Reference behavior (SharedCode/HelperFunction.py:9-43 xls2csv):
workbook → selected sheets ("all" or comma-list, :22-25) → one output
per sheet named `{sanitized_basename}_{sheet}` (:30-31), cells
stringified row-by-row with the destructive sanitize chain (:36-41).

Spark-first design: one ingest path, `ingest_excel_distributed`, for a
workbook or a folder of them (the 100 TB shape) — a `binaryFile` scan,
then mapInPandas fans each workbook's sheets out on executors, so the
driver never holds file bytes. The reference's per-sheet frames are a
projection of its long output (pipeline.ingest_excel).

One parser, on every executor: the stdlib reader below over the public
OOXML package format (ECMA-376: xl/workbook.xml for sheet order,
xl/_rels for sheet targets, xl/sharedStrings.xml, and
shared/inline/numeric/boolean cell types). zipfile opens the package
and each worksheet and shared-strings part is read in a single expat
pass that takes every cell's value as its tags stream by (a boolean is
"TRUE"/"FALSE", a date its stored serial). No pip dependency needed to
ingest real .xlsx files.
"""

from __future__ import annotations

import io
import os
import re
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from azure_data_engineering_spark.functions.sanitize import sanitize_cell

# ------------------------------------------------------------------
# Stdlib OOXML reader/writer (public format, ECMA-376 SpreadsheetML).
# Reader handles shared strings, inline strings, numbers, booleans,
# sparse cells (A1 references with gaps), and multi-run rich text.

_A1_COL = re.compile(r"[A-Z]+")


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


class _LocalNames(dict):
    """`_local` memoised per name: a part repeats a handful of tags."""

    def __missing__(self, tag: str) -> str:
        self[tag] = local = _local(tag)
        return local


def _col_to_idx(ref: str) -> int:
    """'A'->0, 'Z'->25, 'AA'->26 (column part of an A1 reference)."""
    n = 0
    for ch in ref:
        n = n * 26 + (ord(ch) - ord("A") + 1)
    return n - 1


def _expat_pass(part: bytes, start, end, text) -> None:
    """One streaming pass over an XML part. Element names reach the
    handlers as `uri}local` (or bare `local`), so `_local` matches them
    under any namespace or prefix; buffered text arrives before the next
    start or end event."""
    from xml.parsers import expat

    p = expat.ParserCreate(namespace_separator="}")
    p.buffer_text = True
    p.StartElementHandler, p.EndElementHandler, p.CharacterDataHandler = start, end, text
    p.Parse(part, True)


def _shared_strings(part: bytes) -> list[str]:
    """Text of every <si> under the root: all its <t> runs joined, the
    rich-text and phonetic (<rPh>) runs included."""
    out: list[str] = []
    runs: list[str] = []
    depth = 0
    in_si = in_t = False
    local_of = _LocalNames()

    def start(name, attrs):
        nonlocal depth, in_si, in_t
        depth += 1
        local = local_of[name]
        if depth == 2:
            in_si = local == "si"
            runs.clear()
        in_t = in_si and local == "t"

    def end(name):
        nonlocal depth, in_si, in_t
        in_t = False
        if depth == 2 and in_si:
            out.append("".join(runs))
            in_si = False
        depth -= 1

    def text(data):
        if in_t:
            runs.append(data)

    _expat_pass(part, start, end, text)
    return out


def _sheet_rows(part: bytes, shared: list[str]) -> list[list[str]]:
    """Rows of a worksheet part, each padded through its last cell. A
    cell's column is its A1 reference's letters, else the number of
    cells already seen in its row; its value is the first <v> child's
    text (a shared-string index for t="s", TRUE/FALSE for t="b") or,
    for t="inlineStr", every <t> under its first <is> child."""
    rows: list[list[str]] = []
    cells: dict[int, str] = {}
    depth = row_depth = 0
    in_cell = in_is = False
    ref = ctype = None
    v: list[str] | None = None
    inline: list[str] | None = None
    buf: list[str] | None = None  # receives text until the next tag
    local_of = _LocalNames()

    def start(name, attrs):
        nonlocal depth, row_depth, in_cell, in_is, ref, ctype, v, inline, buf
        depth += 1
        buf = None
        if not row_depth:
            if local_of[name] == "row":
                row_depth = depth
                cells.clear()
        elif depth == row_depth + 1:
            if local_of[name] == "c":
                in_cell = True
                ref, ctype = attrs.get("r"), attrs.get("t", "n")
                v = inline = None
        elif in_cell:
            local = local_of[name]
            if depth == row_depth + 2:
                if local == "v" and v is None:
                    buf = v = []
                elif local == "is" and inline is None:
                    inline = []
                    in_is = True
            elif in_is and local == "t":
                buf = inline

    def end(name):
        nonlocal depth, row_depth, in_cell, in_is, buf
        buf = None
        if depth == row_depth + 2:
            in_is = False
        elif depth == row_depth + 1 and in_cell:
            in_cell = False
            m = _A1_COL.match(ref) if ref else None
            val = None if v is None else "".join(v)
            if ctype == "s" and val is not None:
                val = shared[int(val or "0")]
            elif ctype == "inlineStr" and inline is not None:
                val = "".join(inline)
            elif ctype == "b" and val is not None:
                val = "TRUE" if val.strip() == "1" else "FALSE"
            cells[_col_to_idx(m.group()) if m else len(cells)] = val or ""
        elif depth == row_depth:
            row_depth = 0
            rows.append([cells.get(i, "") for i in range(max(cells) + 1 if cells else 0)])
        depth -= 1

    def text(data):
        if buf is not None:
            buf.append(data)

    _expat_pass(part, start, end, text)
    return rows


def parse_xlsx_bytes(payload: bytes) -> dict[str, list[list[str]]]:
    """Parse an .xlsx workbook from bytes with the stdlib only —
    zipfile over the OOXML package, one expat pass per worksheet and
    shared-strings part. Returns the loader contract shape:
    {sheet_name: rows of stringified cells}, sheets in workbook order
    (HelperFunction.py:27's sheet iteration)."""
    import zipfile
    from xml.etree import ElementTree as ET

    zf = zipfile.ZipFile(io.BytesIO(payload))
    names = set(zf.namelist())

    shared: list[str] = []
    if "xl/sharedStrings.xml" in names:
        shared = _shared_strings(zf.read("xl/sharedStrings.xml"))

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
        book[sheet_name] = _sheet_rows(zf.read(target), shared)
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


def ingest_excel_distributed(
    spark: SparkSession,
    dir_path: str,
    glob: str = "*.xls*",
    sheet_list: str = "all",
    sanitize: bool = False,
    bytes_loader=None,
) -> DataFrame:
    """Excel ingest of one workbook or a folder: `binaryFile` scan of
    the `glob` matches under `dir_path` → mapInPandas fans each
    workbook's sheets out ON EXECUTORS — the driver never holds file
    bytes (vs the reference's one-at-a-time driver loop, which keeps
    only `xls*` names, adffunction/__init__.py:91-104).

    Returns one long DataFrame: (source_name, sheet, row_idx, cells
    array<string>) — cells stay schema-less all-string like the
    reference's CSV stage. A selected sheet with no rows yields one
    marker row, row_idx null and cells `[]`, so it still has a
    source_name. bytes_loader(name, payload) -> {sheet: rows}; defaults
    to parse_xlsx_bytes, tests inject a fake.
    """
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
                base = sanitize_basename(row["path"])
                book = bytes_loader(row["path"], row["content"])
                for sheet in select_sheets(book.keys(), sheet_list):
                    if not book[sheet]:
                        out.append((f"{base}_{sheet}", sheet, None, []))
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
