"""End-to-end pipeline: the one extraction pass, lineage metrics, snapshot
resume, and the metamorphic suite: the same documents give the Spark-free
kernel's rows under any partition count, Arrow batch size, scan split size
and resume split."""

from __future__ import annotations

import contextlib
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.types as T
import pytest
from pyspark.sql import functions as F

from html_table_spark.config import ParserConfig
from html_table_spark.corpus import CORPUS_SCHEMA, synthesize_documents
from html_table_spark.plans.pipeline import run_extraction_concurrent, run_job
from html_table_spark.semantics import parse_document
from html_table_spark.sources.documents import DOCUMENTS_SCHEMA, read_documents
from html_table_spark.sources.sinks import SnapshotSink
from html_table_spark.spans import doc_spans_to_html, encode_table_spans, spans_signature


def _corpus_df(spark, **kwargs):
    rows = synthesize_documents(**kwargs)
    return spark.createDataFrame(rows, DOCUMENTS_SCHEMA), rows


def _extract(df, config, **kw):
    """Every row the pipeline's one pass extracts."""
    return run_extraction_concurrent(
        df, config, leg_action=lambda _n, d: d.collect(), **kw
    )["normal"]


def _tables(df, config, **kw):
    return [r for r in _extract(df, config, **kw) if r.table_idx >= 0]


def _key_rows(rows):
    """(doc_id, table_idx, status, caption, n_cells) per table, sorted."""
    return sorted(
        (r.doc_id, r.table_idx, r.status, r.caption, r.n_cells) for r in rows
    )


def _kernel_rows(rows, config):
    """(doc_id, table_idx, status, caption, n_cells) per table, from the
    Spark-free kernel — the oracle for every plan choice."""
    return sorted(
        (row["doc_id"], t.table_idx, t.status, t.caption, t.n_cells)
        for row in rows
        for t in parse_document(doc_spans_to_html(row["spans"]), config)
    )


def test_plan_extraction_with_mega(spark):
    """A mega doc is parsed whole, in one task, like every other doc."""
    df, rows = _corpus_df(spark, n_docs=30, seed=11, mega_docs=1, mega_tables=120)
    out = _extract(df, ParserConfig().all_tables(), num_partitions=8)
    mega = [r for r in out if r.doc_id == "mega000"]
    assert sorted(r.table_idx for r in mega) == list(range(120))
    assert len({r.part_id for r in mega}) == 1


def test_run_job_resume(spark, tmp_path):
    df, rows = _corpus_df(spark, n_docs=40, seed=5)
    sink = SnapshotSink(str(tmp_path / "out"))
    half = df.filter(F.xxhash64("doc_id") % 2 == 0)
    manifest1 = run_job(spark, half, sink, ParserConfig().all_tables(), num_partitions=4)
    first = sink.read_committed(spark)
    n_first_docs = first.select("doc_id").distinct().count()
    assert n_first_docs == half.count()

    # second run over the FULL corpus resumes: only the other half processed
    manifest2 = run_job(spark, df, sink, ParserConfig().all_tables(), num_partitions=4)
    assert manifest2["run_id"] != manifest1["run_id"]
    all_docs = sink.read_committed(spark)
    assert all_docs.select("doc_id").distinct().count() == df.count()
    # no doc processed twice across snapshots
    dup = (
        all_docs.select("doc_id", "table_idx")
        .groupBy("doc_id", "table_idx")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dup == 0

    # third run: nothing left to do, commit is empty but valid
    run_job(spark, df, sink, ParserConfig().all_tables(), num_partitions=4)
    assert all(m["data_path"] for m in sink.manifests())

    # lineage rows exist, metrics add up to the committed table count
    lineage = sink.read_lineage(spark)
    total_tables = sink.read_committed(spark).count()
    assert lineage.agg(F.sum("table_count")).collect()[0][0] == total_tables
    assert lineage.filter("wall_ms >= 0").count() == lineage.count()


def test_snapshot_time_travel(spark, tmp_path):
    df, _ = _corpus_df(spark, n_docs=12, seed=9)
    sink = SnapshotSink(str(tmp_path / "tt"))
    third = df.limit(4)
    run_job(spark, third, sink, num_partitions=2)
    run_job(spark, df, sink, num_partitions=2)
    seq1_docs = sink.read_committed(spark, as_of_seq=1).select("doc_id").distinct().count()
    all_docs = sink.read_committed(spark).select("doc_id").distinct().count()
    assert seq1_docs == 4
    assert all_docs == 12


def test_null_spans_doc_gets_completion_marker(spark):
    """A NULL-spans doc must flow through pass 1 (doc_cost coalesced to 0)
    and emit its completion marker — otherwise resume reprocesses it
    forever."""
    docs = spark.createDataFrame(
        [{"doc_id": "nullspans", "spans": None},
         {"doc_id": "ok", "spans": [
             {"kind": "text", "text": "<table><tr><td>x</td></tr></table>",
              "media_ref": None, "offset": 0}]}],
        DOCUMENTS_SCHEMA,
    )
    out = _extract(docs, ParserConfig().all_tables())
    by_id = {}
    for r in out:
        by_id.setdefault(r.doc_id, []).append(r)
    assert "nullspans" in by_id  # completion marker row exists
    assert by_id["nullspans"][0].table_idx == -1
    assert by_id["ok"][0].n_cells == 1


def test_cost_over_threshold_but_small_html_keeps_tables(spark):
    """A doc whose span text is mostly media-span text: only its text spans
    make its HTML, and its tables reach the output."""
    html = "<table><caption>c</caption><tr><td>v</td></tr></table>"
    docs = spark.createDataFrame(
        [{"doc_id": "tricky", "spans": [
            {"kind": "text", "text": html, "media_ref": None, "offset": 0},
            # media span whose text outweighs the HTML
            {"kind": "media", "text": "x" * 500, "media_ref": "M1", "offset": 1},
        ]}],
        DOCUMENTS_SCHEMA,
    )
    out = _tables(docs, ParserConfig().all_tables())
    assert len(out) == 1
    assert out[0].caption == "c" and out[0].n_cells == 1 and out[0].status == "ok"


def test_legs_equal_union_plan(spark):
    """One pass in every mode: the result holds the ``normal`` leg only."""
    df, _ = _corpus_df(spark, n_docs=25, seed=7, mega_docs=1, mega_tables=80)
    for config in (ParserConfig(), ParserConfig().all_tables()):
        legs = run_extraction_concurrent(
            df, config, leg_action=lambda _n, d: d.count(), num_partitions=4
        )
        assert list(legs) == ["normal"] and legs["normal"] > 0


def test_run_job_leg_layout_readable(spark, tmp_path):
    """The pass writes into one data_path subdir; read_committed and the
    lineage re-read must see every row exactly once."""
    import os

    df, _ = _corpus_df(spark, n_docs=20, seed=13, mega_docs=1, mega_tables=60)
    sink = SnapshotSink(str(tmp_path / "legs"))
    run_job(spark, df, sink, ParserConfig().all_tables(), num_partitions=4)
    data_path = sink.manifests()[0]["data_path"]
    subdirs = sorted(
        d for d in os.listdir(data_path)
        if os.path.isdir(os.path.join(data_path, d))
    )
    assert subdirs == ["normal"]
    committed = sink.read_committed(spark)
    assert committed.select("doc_id").distinct().count() == 21
    assert committed.filter("doc_id = 'mega000'").count() == 60


# -- the metamorphic suite -----------------------------------------------------

_NULLABLE_SCHEMA = T.StructType(
    [T.StructField("doc_id", T.StringType(), True), DOCUMENTS_SCHEMA["spans"]]
)


def _text_spans(texts):
    return [
        {"kind": "text", "text": t, "media_ref": None, "offset": i}
        for i, t in enumerate(texts)
    ]


_BIG_TABLE = (
    "<table><caption>big</caption>"
    + "".join(f"<tr><td>{'x' * 100}</td></tr>" for _ in range(50))
    + "</table>"
)


def _edge_rows():
    """The documents a routing or batching rule could lose or duplicate:
    a null doc_id, two documents under one doc_id (one of them
    span-heavy), a byte-heavy document in one span and a null-spans
    document."""
    return [
        {"doc_id": None, "spans": _text_spans(["<table><tr><td>nullrow</td></tr></table>"])},
        {"doc_id": "X", "spans": _text_spans(
            f"<table><tr><td>small{i}</td></tr></table>" for i in range(3)
        )},
        {"doc_id": "X", "spans": _text_spans(
            f"<table><tr><td>big{i}</td></tr></table>" for i in range(40)
        )},
        {"doc_id": "slim-mega", "spans": _text_spans([_BIG_TABLE])},
        {"doc_id": "nullspans", "spans": None},
    ]


def _metamorphic_rows():
    """25 synthesized documents, 2 of them mega docs of 80 tables, then the
    edge cases."""
    return synthesize_documents(n_docs=25, seed=21, mega_docs=2, mega_tables=80) + _edge_rows()


def _full_rows(rows):
    """Every output row, completion markers included, with its spans."""
    return sorted(
        (
            (r.doc_id, r.table_idx, r.status, r.caption, r.n_cells,
             spans_signature([(s.kind, s.text, s.media_ref, s.offset) for s in r.spans or []]))
            for r in rows
        ),
        key=repr,
    )


def _full_kernel_rows(rows, config):
    """``_full_rows`` of the Spark-free kernel: a document without tables
    gets its completion marker."""
    out = []
    for row in rows:
        tables = parse_document(doc_spans_to_html(row["spans"] or []), config)
        out += [
            (row["doc_id"], t.table_idx, t.status, t.caption, t.n_cells,
             spans_signature(encode_table_spans(t)))
            for t in tables
        ] or [(row["doc_id"], -1, "ok", None, 0, ())]
    return sorted(out, key=repr)


@pytest.mark.parametrize(
    "num_partitions,batch_rows", [(1, 1), (4, 8), (8, 16), (16, 64), (4, 1024)]
)
def test_discovery_routing_equals_kernel(spark, num_partitions, batch_rows):
    """The plan is a performance choice, never a correctness boundary: the
    one pass extracts the kernel's rows whatever the partition count and
    the Arrow batch size (``maxRecordsPerBatch``; 1024 is the session's)."""
    rows = _metamorphic_rows()
    df = spark.createDataFrame(rows, _NULLABLE_SCHEMA)
    config = ParserConfig().all_tables()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(key)
    spark.conf.set(key, str(batch_rows))
    try:
        got = _full_rows(_extract(df, config, num_partitions=num_partitions))
    finally:
        spark.conf.set(key, before)
    assert got == _full_kernel_rows(rows, config)
    assert len([r for r in got if r[0] == "mega001"]) == 80


# (openCostInBytes, minPartitionNum, maxPartitionBytes); minPartitionNum
# None is twice the session's cores. "by_bytes" is get_spark's; "by_count"
# is Spark's 4 MB open cost, which packs small files by count;
# "byte_ranges" cuts every file.
_SPLIT_SETTINGS = {
    "by_count": (str(4 * 1024 * 1024), "32", "32m"),
    "by_bytes": (str(64 * 1024), None, "32m"),
    "byte_ranges": ("0", "64", "4096"),
}


@contextlib.contextmanager
def _split_confs(spark, setting):
    open_cost, min_parts, max_bytes = _SPLIT_SETTINGS[setting]
    confs = {
        "spark.sql.files.openCostInBytes": open_cost,
        "spark.sql.files.minPartitionNum": min_parts
        or str(2 * spark.sparkContext.defaultParallelism),
        "spark.sql.files.maxPartitionBytes": max_bytes,
    }
    before = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


def _write_corpus(rows, path, n_files, row_group_rows):
    os.makedirs(path)
    for i in range(n_files):
        pq.write_table(
            pa.Table.from_pylist(rows[i::n_files], schema=CORPUS_SCHEMA),
            os.path.join(path, f"part-{i:05d}.parquet"),
            row_group_size=row_group_rows,
        )
    return path


@pytest.mark.parametrize("setting", list(_SPLIT_SETTINGS))
def test_byte_target_equals_kernel(spark, tmp_path, setting):
    """The scan's split sizing is a performance choice too: the documents
    read back from four Parquet files of several row groups each give the
    kernel's rows whether files are packed by count, by bytes, or cut into
    4 KB byte ranges (most of them empty, the rest holding a few row
    groups of a file)."""
    rows = _metamorphic_rows()
    path = _write_corpus(rows, str(tmp_path / "corpus"), n_files=4, row_group_rows=3)
    config = ParserConfig().all_tables()
    with _split_confs(spark, setting):
        docs = read_documents(spark, path)
        if setting == "byte_ranges":
            assert docs.rdd.getNumPartitions() > 4
        got = _full_rows(_extract(docs, config))
    assert got == _full_kernel_rows(rows, config)


@pytest.mark.parametrize("setting", list(_SPLIT_SETTINGS))
def test_one_file_corpus_spreads(spark, tmp_path, setting):
    """A one-file, one-row-group corpus (the layout of the sf*
    documents.parquet files) fills one split however many byte ranges the
    scan cuts it into, so the pass salts it over the cores instead of
    parsing the whole corpus in one task."""
    rows = _metamorphic_rows()
    path = _write_corpus(rows, str(tmp_path / "corpus"), n_files=1, row_group_rows=len(rows))
    config = ParserConfig().all_tables()
    with _split_confs(spark, setting):
        got = _extract(read_documents(spark, path), config)
    assert _full_rows(got) == _full_kernel_rows(rows, config)
    assert len({r.part_id for r in got}) >= 2


def test_resume_split_equals_kernel(spark, tmp_path):
    """A resume split: ``run_job`` over about a third of the documents
    (the null doc_id among them: its hash is the seed, 42), then a resumed
    ``run_job`` over all of them, commits the kernel's rows once each."""
    rows = _metamorphic_rows()
    df = spark.createDataFrame(rows, _NULLABLE_SCHEMA)
    config = ParserConfig().all_tables()
    sink = SnapshotSink(str(tmp_path / "resume"))
    first = df.filter(F.xxhash64("doc_id") % 3 == 0)
    assert 0 < first.count() < len(rows)
    run_job(spark, first, sink, config, num_partitions=4)
    run_job(spark, df, sink, config, num_partitions=4)
    assert len(sink.manifests()) == 2
    assert _full_rows(sink.read_committed(spark).collect()) == _full_kernel_rows(rows, config)


def test_resume_null_doc_id_extracted_once(spark, tmp_path):
    """A null doc_id is committed like any other: the resumed run skips it
    (the resume anti-join is null-safe)."""
    rows = _edge_rows()[:1]
    df = spark.createDataFrame(rows, _NULLABLE_SCHEMA)
    sink = SnapshotSink(str(tmp_path / "resume_null"))
    for _ in range(2):
        run_job(spark, df, sink, ParserConfig().all_tables(), num_partitions=2)
    assert sink.read_committed(spark).count() == 1


def test_fail_on_errors_routing_equals_kernel(spark):
    """``fail_on_xml_errors`` is a verdict on the whole document: one error
    row for a document with any parse error (Parser.php:450-453), wherever
    in a long document the stray end tag sits."""
    table = "<table><tr><td>v{}</td></tr></table>"
    tables = [table.format(i) for i in range(202)]
    tables[1] = "<table><tr><td>v1</div></td></tr></table>"
    in_chunk = "".join(tables)
    between = "".join(tables[2:10]) + "</div>" + "".join(tables[10:18])

    def spans(html):
        return [
            {"kind": "text", "text": html[i : i + 64], "media_ref": None, "offset": n}
            for n, i in enumerate(range(0, len(html), 64))
        ]

    rows = [
        {"doc_id": "in_chunk", "spans": spans(in_chunk)},
        {"doc_id": "between", "spans": spans(between)},
        {"doc_id": "clean", "spans": spans(table.format("c") * 2)},
    ]
    df = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    config = ParserConfig().all_tables().fail_on_errors()
    got = _key_rows(_extract(df, config))
    assert got == _kernel_rows(rows, config)
    assert [r[:3] for r in got] == [
        ("between", 0, "error"),
        ("clean", 0, "ok"),
        ("clean", 1, "ok"),
        ("in_chunk", 0, "error"),
    ]


def test_discovery_proxy_miss_byte_heavy_doc_not_dropped(spark):
    """A doc with FEW spans and a lot of HTML is parsed whole, next to a
    span-heavy one."""
    rows = [r for r in _edge_rows() if r["doc_id"] in ("slim-mega", "X")]
    df = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    out = _tables(df, ParserConfig().all_tables(), num_partitions=4)
    by_key = {(r.doc_id, r.table_idx): r for r in out if r.doc_id == "slim-mega"}
    assert list(by_key) == [("slim-mega", 0)]
    assert by_key[("slim-mega", 0)].caption == "big"
    assert by_key[("slim-mega", 0)].status == "ok"
    assert by_key[("slim-mega", 0)].n_cells == 50


def test_discovery_null_doc_id_rides_normal_leg(spark):
    """A null doc_id must not lose its row. DOCUMENTS_SCHEMA is
    non-nullable, but a foreign parquet writer may relax nullability, and
    EXTRACTED_SCHEMA.doc_id is nullable so the row can surface without an
    executor-side NPE."""
    rows = [r for r in _edge_rows() if r["doc_id"] in (None, "X")]
    df = spark.createDataFrame(rows, _NULLABLE_SCHEMA)
    out = _tables(df, ParserConfig().all_tables(), num_partitions=4)
    null_rows = [r for r in out if r.doc_id is None]
    assert len(null_rows) == 1, "null-id doc must surface exactly once"
    assert null_rows[0].status == "ok"
    assert len([r for r in out if r.doc_id == "X"]) == 43


def test_discovery_duplicate_doc_id_extracts_each_row_once(spark):
    """doc_ids are not guaranteed unique in a foreign corpus: each of two
    documents under one id is extracted once."""
    rows = [r for r in _edge_rows() if r["doc_id"] == "X"]
    df = spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    collected = _tables(df, ParserConfig().all_tables(), num_partitions=4)
    cells = [s.text for r in collected for s in r.spans]
    assert len(collected) == 43, f"expected 43 tables, got {len(collected)}"
    for i in range(3):
        assert cells.count(f"small{i}") == 1, "small doc extracted twice"
    for i in range(40):
        assert cells.count(f"big{i}") == 1
