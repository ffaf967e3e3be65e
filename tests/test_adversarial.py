"""Adversarial input yields rows, never a crashed task.

libxml2, a C library, parses untrusted documents inside the Python
workers. The extraction pipeline runs in a subprocess with a timeout over
inputs that stress it (nesting past libxml2's 256-level cap, a text node
past its 10,000,000-byte cap, NUL bytes, an unterminated comment, a
charset declaration that must not re-decode the text, an element with
5,000 attributes) and the compiled grid (a span of non-ASCII digits, a row
of 10,000 cells, a 1000x1000 span block over 1,000 rows, tables nested to
libxml2's depth cap), and every document must come back as exactly one
row, with no task failure: a crashed worker or a raising kernel fails the
job, and the subprocess with it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from html_table_spark.config import ParserConfig
from html_table_spark.semantics import parse_document

_PIPELINE = r"""
import json

from pyspark.sql import functions as F

from html_table_spark.config import ParserConfig
from html_table_spark.plans.pipeline import plan_extraction
from html_table_spark.session import get_spark
from html_table_spark.sources.documents import DOCUMENTS_SCHEMA

DOCS = {
    "divs": "<div>" * 10_000 + "<table><tr><td>deep</td></tr></table>",
    "tables": "<table><tr><td>" * 10_000 + "x",
    "text": "<table><tr><td>" + "x" * 20_000_000 + "</td></tr></table>",
    "nul": "<table><tr><td>a\x00b</td></tr></table>",
    "comment": "<table><tr><td>a</td></tr></table><!--" + "x" * 1_000_000,
    "charset": '<meta charset="iso-8859-1"><table><tr><td>café €</td></tr></table>',
    "attrs": "<table><tr><td>a<img " + " ".join(f"a{i}={i}" for i in range(5_000)) + "></td><td>b</td></tr></table>",
    "superscript": '<table><tr><td colspan="²">a</td></tr></table>',
    "wide_row": "<table><tr>" + "<td>x</td>" * 10_000 + "</tr></table>",
    "block": "<table><tr><td rowspan=1000 colspan=1000>x</td></tr>" + "<tr><td>y</td></tr>" * 999 + "</table>",
    "nested": "<table><tr><td>" * 84 + "<div>deep</div>",
}
spark = get_spark("adversarial")
spark.sparkContext.setLogLevel("ERROR")
documents = spark.createDataFrame(
    [(doc_id, [("text", html, None, 0)]) for doc_id, html in DOCS.items()], DOCUMENTS_SCHEMA
)
cells = F.filter("spans", lambda s: s["kind"] == "cell")
rows = (
    plan_extraction(documents, ParserConfig().all_tables())
    .select("doc_id", "table_idx", "status", F.size(cells).alias("n"), F.transform(cells, lambda s: s["text"]).alias("texts"))
    .select("doc_id", "table_idx", "status", "n", F.when(F.col("n") <= 100, F.col("texts")).alias("texts"))
    .collect()
)
out = {}
for row in rows:
    # a table of more than 100 cells is reported by its cell count
    texts = row["n"] if row["texts"] is None else [t if len(t) < 100 else len(t) for t in row["texts"]]
    out.setdefault(row["doc_id"], []).append([row["table_idx"], row["status"], texts])
print("ROWS " + json.dumps(out))
spark.stop()
"""


def test_adversarial_documents_yield_one_row_each():
    repo = Path(__file__).resolve().parents[1]
    env = {**os.environ, "SPARK_GRAFT_CPUS": "2"}
    proc = subprocess.run(
        [sys.executable, "-c", _PIPELINE], cwd=repo, env=env, capture_output=True, text=True, timeout=600
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    [line] = [line for line in proc.stdout.splitlines() if line.startswith("ROWS ")]
    rows = json.loads(line[len("ROWS "):])
    assert rows == {
        # libxml2 stops 256 elements deep and drops the rest, table included
        "divs": [[-1, "ok", []]],
        # only the outermost table is top-level; the text of its one cell,
        # the nested tables', lies past the cap
        "tables": [[0, "ok", [""]]],
        # without HTML_PARSE_HUGE a text node stops at 10,000,000 bytes
        "text": [[0, "ok", [10_000_000]]],
        "nul": [[0, "ok", ["a b"]]],
        "comment": [[0, "ok", ["a"]]],
        # the text arrives decoded: the declared charset is not applied again
        "charset": [[0, "ok", ["café €"]]],
        # libxml2's duplicate-attribute check is quadratic in a start tag's
        # attributes (as in the reference); 5,000 parse in well under a second
        "attrs": [[0, "ok", ["a", "b"]]],
        # PHP's (int)"²" is 0: one copy of the cell (str.isdigit() holds)
        "superscript": [[0, "ok", ["a"]]],
        "wide_row": [[0, "ok", 10_000]],
        # 1,000 copies in row 1, then 1,000 carried copies plus y in each
        # of the other 999 rows
        "block": [[0, "ok", 1_000 + 999 * 1_001]],
        # the div inside the 84th table is element 255 of the document
        # (html, body, then table, tr, td 84 times), one short of libxml2's cap
        "nested": [[0, "ok", ["deep"]]],
    }


def test_lone_surrogate_extracts():
    """A lone surrogate (no UTF-8 encoding exists) reaches libxml2 as
    invalid bytes, which it drops."""
    [table] = parse_document("<table><tr><td>a\ud800b</td></tr></table>", ParserConfig().all_tables())
    assert (table.status, table.row_texts()) == ("ok", [["ab"]])
