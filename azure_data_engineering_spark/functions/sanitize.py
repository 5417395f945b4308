"""Cell/filename sanitization as Column expressions.

Reproduces the reference's destructive cell sanitization
(SharedCode/HelperFunction.py:36-41) exactly, but as pure JVM-side
Column expressions (whole-stage-codegen friendly — no Python UDF in the
hot path) and *opt-in* (the reference silently mutates data; we expose
the same semantics as an explicit transform — see SURVEY.md §2A quirks).

Reference order of operations (HelperFunction.py:36-41):
  1. delete ','            2. delete "'"
  3. '\n' -> ' '           4. '\\' -> ' '
  5. '/' -> '-'            6. strip non-ASCII (encode('ascii','ignore'))
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sanitize_cell(col: Column) -> Column:
    """The reference's exact 6-step destructive sanitize chain. Steps
    1-5 map five distinct ASCII characters, none of which another step
    produces, so one `translate` does them all (a character past the
    end of the replacement string is deleted); step 6 stays a regex."""
    c = F.translate(col, "\n\\/,'", "  -")
    return F.regexp_replace(c, "[^\\x00-\\x7F]", "")  # ascii-ignore


def sanitize_filename(col: Column) -> Column:
    """``re.sub('[^A-Za-z0-9]+','')`` on a basename
    (SharedCode/HelperFunction.py:18-19)."""
    return F.regexp_replace(col, "[^A-Za-z0-9]+", "")
