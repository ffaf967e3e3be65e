"""Adversarial input yields rows, never a crashed task.

libxml2, a C library, parses untrusted documents inside the Python
workers. The extraction pipeline runs in a subprocess with a timeout over
inputs that stress it (nesting past libxml2's 256-level cap, a text node
past its 10,000,000-byte cap, NUL bytes, an unterminated comment, a
charset declaration that must not re-decode the text, an element with
5,000 attributes), and every document
must come back as exactly one row, with no task failure: a crashed worker
or a raising kernel fails the job, and the subprocess with it.
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
}
spark = get_spark("adversarial")
spark.sparkContext.setLogLevel("ERROR")
documents = spark.createDataFrame(
    [(doc_id, [("text", html, None, 0)]) for doc_id, html in DOCS.items()], DOCUMENTS_SCHEMA
)
rows = plan_extraction(documents, ParserConfig().all_tables(), num_partitions=4).collect()
out = {}
for row in rows:
    texts = [s["text"] for s in row["spans"] if s["kind"] == "cell"]
    out.setdefault(row["doc_id"], []).append(
        [row["table_idx"], row["status"], [t if len(t) < 100 else len(t) for t in texts]]
    )
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
    }


def test_lone_surrogate_extracts():
    """A lone surrogate (no UTF-8 encoding exists) reaches libxml2 as
    invalid bytes, which it drops."""
    [table] = parse_document("<table><tr><td>a\ud800b</td></tr></table>", ParserConfig().all_tables())
    assert (table.status, table.row_texts()) == ("ok", [["ab"]])
