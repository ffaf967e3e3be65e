"""Schemas and readers for the interleaved document corpus.

Input shape is fixed by BASELINE.json (input_hint)::

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int32>>)

Output shape follows FIXTURES.md "Output schema" plus the per-partition
metrics columns the pipeline aggregates into lineage rows (SURVEY.md §2.6).

The sink side prefers Iceberg when a catalog is configured (cluster
deployments); in this sandbox there are no Iceberg jars, so
`html_table_spark.sources.sinks.SnapshotSink` provides snapshot-committed
Parquet with the same observable semantics (atomic commits, time-travel by
snapshot, resume via committed-doc anti-join).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import types as T

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), nullable=False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
    ]
)

SPAN_ARRAY_DDL = (
    "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)

EXTRACTED_SCHEMA = T.StructType(
    [
        # nullable: DOCUMENTS_SCHEMA declares doc_id non-null, but a
        # foreign parquet writer can relax that, and a null-id doc is
        # extracted like any other rather than dropped — a non-nullable
        # output field here would NPE the whole stage in the JVM the
        # moment such a doc's extraction row surfaces
        T.StructField("doc_id", T.StringType(), nullable=True),
        T.StructField("table_idx", T.IntegerType(), nullable=False),
        T.StructField("caption", T.StringType()),
        T.StructField("header", T.ArrayType(T.StringType())),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT)),
        # grid-expanded cell count per body row, in row order — the span
        # stream deliberately has no row boundaries (the golden gate is
        # flat sequence equality), so row-aware consumers (jsonSerialize)
        # reconstruct rows from this instead of guessing rectangularity
        T.StructField("row_lens", T.ArrayType(T.IntegerType())),
        T.StructField("n_rows", T.IntegerType()),
        T.StructField("n_cells", T.IntegerType()),
        T.StructField("status", T.StringType()),
        T.StructField("error_msg", T.StringType()),
        # extraction-time partition id + cumulative partition wall time —
        # feed per-partition lineage rows without a second pass
        # (BASELINE.json north_rule)
        T.StructField("part_id", T.IntegerType()),
        T.StructField("wall_ms", T.DoubleType()),
    ]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("part_id", T.IntegerType()),
        T.StructField("doc_count", T.LongType()),
        T.StructField("table_count", T.LongType()),
        T.StructField("span_count", T.LongType()),
        T.StructField("error_count", T.LongType()),
        T.StructField("wall_ms", T.DoubleType()),
    ]
)


def html_spans(html: Column) -> Column:
    """A string Column of whole HTML pages as documents' ``spans``: one text
    span per page, at offset 0."""
    from pyspark.sql import functions as F

    return F.array(
        F.struct(
            F.lit("text").alias("kind"),
            html.alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).alias("offset"),
        )
    )


def read_documents(spark: SparkSession, path: str) -> DataFrame:
    """Scan the corpus. Parquet (or Iceberg via ``iceberg://table`` ref).

    Adapts to either corpus shape without a forced schema (a strict schema
    fails at executor read time on type mismatches):

    - interleaved span streams ``(doc_id, spans)`` — the canonical input;
    - plain text tables ``(doc_id, text)`` — wrapped as one text span per
      doc, so any (id, html) table is directly extractable.

    Column pruning/predicate pushdown come free from Catalyst as long as
    callers select only what they need — the extraction pipeline reads
    exactly (doc_id, spans).
    """
    from pyspark.sql import functions as F

    if path.startswith("iceberg://"):
        df = spark.read.format("iceberg").load(path[len("iceberg://"):])
    else:
        df = spark.read.parquet(path)
    if "spans" in df.columns:
        doc_id = F.col("doc_id").cast("string").alias("doc_id")
        element = df.schema["spans"].dataType.elementType
        if [(f.name, f.dataType) for f in element.fields] == [
            (f.name, f.dataType) for f in SPAN_STRUCT.fields
        ]:
            # canonical layout: zero-cost pass-through (the rebuild below is
            # an interpreted per-span transform — measured 5× on the whole
            # extraction job when applied unconditionally)
            return df.select(doc_id, "spans")
        # non-canonical layout: rebuild the span struct BY FIELD NAME — a
        # DDL cast matches struct fields positionally, so a corpus with the
        # same fields in a different order would be silently mis-mapped
        return df.select(
            doc_id,
            F.transform(
                "spans",
                lambda s: F.struct(
                    s["kind"].cast("string").alias("kind"),
                    s["text"].cast("string").alias("text"),
                    s["media_ref"].cast("string").alias("media_ref"),
                    s["offset"].cast("int").alias("offset"),
                ),
            ).alias("spans"),
        )
    if "text" in df.columns:
        return df.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            html_spans(F.col("text").cast("string")).alias("spans"),
        )
    raise ValueError(
        f"corpus at {path} has neither a 'spans' nor a 'text' column: {df.columns}"
    )


def read_html_files(spark: SparkSession, path: str, glob: str = "*.html") -> DataFrame:
    """The reference's ``parseFile`` surface (Parser.php:333-357) at corpus
    scale: a directory of raw HTML files becomes a ``documents`` DataFrame
    (doc_id = file path, one text span holding the whole page).

    Built on the ``binaryFile`` source so bytes arrive unmangled; decoding is
    a JVM expression. Unreadable files simply don't appear in the listing —
    the per-doc error channel (status='error') covers undecodable content.
    """
    from pyspark.sql import functions as F

    files = (
        spark.read.format("binaryFile").option("pathGlobFilter", glob).load(path)
    )
    return files.select(
        F.col("path").alias("doc_id"),
        html_spans(F.decode(F.col("content"), "UTF-8")).alias("spans"),
    )


def documents_from_html(
    spark: SparkSession, htmls: list[str], ids: list[str] | None = None
) -> DataFrame:
    """The reference's ``parseHtml(string)`` surface for ad-hoc use: a list
    of HTML strings becomes a ``documents`` DataFrame."""
    ids = ids or [str(i) for i in range(len(htmls))]
    rows = [
        {
            "doc_id": doc_id,
            "spans": [
                {"kind": "text", "text": html, "media_ref": None, "offset": 0}
            ],
        }
        for doc_id, html in zip(ids, htmls)
    ]
    return spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
