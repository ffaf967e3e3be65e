"""html_table_spark — a PySpark-native HTML-table extraction engine.

A from-scratch rebuild (NOT a port) of the query and data-processing
capabilities of bakame-php/html-table, re-expressed Spark-first for an
interleaved text+media document corpus at web scale:

- a correctness kernel (libxml2, the reference's parser, → DOM → grid
  resolver) with the reference's exact semantics, pinned by golden
  fixtures F01–F15;
- Arrow-vectorized `mapInArrow` extraction operator (no per-row Python);
- byte-balanced scan splits and salted repartitioning, each document
  parsed whole;
- snapshot-committed Parquet sink with Iceberg-style resume semantics,
  per-partition lineage + metrics;
- the reference's downstream tabular query surface (filter/sorted/slice/
  nth/fetchPairs/…) as native DataFrame operators;
- training-data-pipeline operators: dedup (exact/MinHash-LSH/SimHash/
  n-gram Jaccard), embedding similarity search, text analysis, multimodal
  column plumbing.
"""

# Worker-side import side effect (deliberate): every PySpark task prologue
# calls importlib.invalidate_caches(), and CPython 3.11's zipimporter
# re-reads its whole archive TOC on each call — measured ~200-390 ms PER
# TASK on a Spark-distribution install (pyspark.zip + jars on sys.path).
# Reused workers import this package exactly once while unpickling our
# UDFs, so applying the mtime-gated patch here fixes every later task in
# that worker even under sessions we did not configure (e.g. the driver's
# own correctness-gate session). Sessions built by session.get_spark also
# set spark.python.daemon.module=html_table_spark.fastdaemon, which patches
# before the FIRST task. See fastdaemon.py for the full story.
from . import fastdaemon as _fastdaemon

_fastdaemon.apply()

from .config import ALL_SECTIONS, TBODY, TFOOT, THEAD, TR, ParserConfig
from .errors import ParserError
from .semantics import Cell, ExtractedTable, parse_document
from .spans import doc_spans_to_html, encode_table_spans, html_to_doc_spans

__version__ = "0.1.0"

__all__ = [
    "ALL_SECTIONS",
    "TBODY",
    "TFOOT",
    "THEAD",
    "TR",
    "Cell",
    "ExtractedTable",
    "ParserConfig",
    "ParserError",
    "doc_spans_to_html",
    "encode_table_spans",
    "html_to_doc_spans",
    "parse_document",
]
