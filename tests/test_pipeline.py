"""End-to-end pipeline: skew plan, lineage metrics, snapshot resume."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from html_table_spark.config import ParserConfig
from html_table_spark.corpus import synthesize_documents
from html_table_spark.plans.pipeline import run_extraction_concurrent, run_job
from html_table_spark.semantics import parse_document
from html_table_spark.sources.documents import DOCUMENTS_SCHEMA
from html_table_spark.sources.sinks import SnapshotSink
from html_table_spark.spans import doc_spans_to_html


def _corpus_df(spark, **kwargs):
    rows = synthesize_documents(**kwargs)
    return spark.createDataFrame(rows, DOCUMENTS_SCHEMA), rows


def _extract(df, config, **kw):
    """Every row both legs extract, as the production path runs them: one
    concurrent job per leg, each leg collected in its own driver thread."""
    legs = run_extraction_concurrent(
        df, config, leg_action=lambda _n, d: d.collect(), **kw
    )
    return legs["normal"] + (legs["mega"] or [])


def _tables(df, config, **kw):
    return [r for r in _extract(df, config, **kw) if r.table_idx >= 0]


def _key_rows(rows):
    """(doc_id, table_idx, status, caption, n_cells) per table, sorted."""
    return sorted(
        (r.doc_id, r.table_idx, r.status, r.caption, r.n_cells) for r in rows
    )


def _kernel_rows(rows, config):
    """(doc_id, table_idx, status, caption, n_cells) per table, from the
    Spark-free kernel — the oracle for every routing choice."""
    return sorted(
        (row["doc_id"], t.table_idx, t.status, t.caption, t.n_cells)
        for row in rows
        for t in parse_document(doc_spans_to_html(row["spans"]), config)
    )


def test_plan_extraction_with_mega(spark):
    df, rows = _corpus_df(spark, n_docs=30, seed=11, mega_docs=1, mega_tables=120)
    out = _extract(
        df,
        ParserConfig().all_tables(),
        num_partitions=8,
        mega_cost_threshold=16 * 1024,
        tables_per_chunk=16,
    )
    mega = [r for r in out if r.doc_id == "mega000"]
    assert len(mega) == 120
    # mega-doc chunks actually spread over multiple extraction partitions
    parts = {r.part_id for r in mega}
    assert len(parts) > 1, "mega-doc not split across partitions"


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
    """A doc whose span COST crosses the mega threshold while its HTML does
    not (cost dominated by media-span text) is parsed in place by the chunk
    pass — its tables must reach the output, not be re-fed as chunk HTML."""
    html = "<table><caption>c</caption><tr><td>v</td></tr></table>"
    docs = spark.createDataFrame(
        [{"doc_id": "tricky", "spans": [
            {"kind": "text", "text": html, "media_ref": None, "offset": 0},
            # media span whose text inflates doc_cost beyond the threshold
            {"kind": "media", "text": "x" * 500, "media_ref": "M1", "offset": 1},
        ]}],
        DOCUMENTS_SCHEMA,
    )
    out = _tables(docs, ParserConfig().all_tables(), mega_cost_threshold=200)
    assert len(out) == 1
    assert out[0].caption == "c" and out[0].n_cells == 1 and out[0].status == "ok"


def test_legs_equal_union_plan(spark):
    """Single-table mode (reference semantics) has no mega leg: the whole
    corpus rides the normal leg."""
    from html_table_spark.plans.pipeline import plan_extraction_legs

    df, _ = _corpus_df(spark, n_docs=25, seed=7, mega_docs=1, mega_tables=80)
    n2, m2 = plan_extraction_legs(df, ParserConfig(), num_partitions=4)
    assert m2 is None and n2.count() > 0


def test_run_concurrent_order_and_errors():
    from html_table_spark.plans.pipeline import run_concurrent

    assert run_concurrent([lambda: 1, lambda: 2, lambda: 3]) == [1, 2, 3]

    def boom():
        raise ValueError("leg failed")

    with pytest.raises(ValueError, match="leg failed"):
        run_concurrent([lambda: 1, boom])


def test_run_job_leg_layout_readable(spark, tmp_path):
    """Concurrent leg writes land in data_path subdirs; read_committed and
    the lineage re-read must see every row exactly once."""
    import os

    df, _ = _corpus_df(spark, n_docs=20, seed=13, mega_docs=1, mega_tables=60)
    sink = SnapshotSink(str(tmp_path / "legs"))
    run_job(
        spark, df, sink, ParserConfig().all_tables(),
        num_partitions=4, mega_cost_threshold=16 * 1024, tables_per_chunk=16,
    )
    data_path = sink.manifests()[0]["data_path"]
    subdirs = sorted(
        d for d in os.listdir(data_path)
        if os.path.isdir(os.path.join(data_path, d))
    )
    assert subdirs == ["mega", "normal"]
    committed = sink.read_committed(spark)
    assert committed.select("doc_id").distinct().count() == 21
    assert committed.filter("doc_id = 'mega000'").count() == 60


@pytest.mark.parametrize(
    "num_partitions,tables_per_chunk", [(1, 1), (4, 8), (8, 16), (16, 64)]
)
def test_discovery_routing_equals_kernel(spark, num_partitions, tables_per_chunk):
    """Leg routing is a performance split, not a correctness boundary: the
    discovery-routed legs (offsets-only id discovery + pushed doc_id IN,
    chunked mega leg) must extract the rows the whole-doc kernel does,
    whatever the partition count and chunk size."""
    df, rows = _corpus_df(spark, n_docs=25, seed=21, mega_docs=2, mega_tables=80)
    config = ParserConfig().all_tables()
    got = _key_rows(_tables(
        df, config, num_partitions=num_partitions,
        mega_cost_threshold=16 * 1024, tables_per_chunk=tables_per_chunk,
    ))
    assert got == _kernel_rows(rows, config) and len(got) > 0


def test_fail_on_errors_routing_equals_kernel(spark):
    """``fail_on_xml_errors`` is a verdict on the whole document: one error
    row for a document with any parse error (Parser.php:450-453). Chunking
    must not change it, whether the stray end tag sits inside a chunk (the
    chunk without it would come out ``ok``) or between two chunks (no chunk
    sees it)."""
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
    got = _key_rows(_extract(
        df, config, mega_cost_threshold=256, tables_per_chunk=8
    ))
    assert got == _kernel_rows(rows, config)
    assert [r[:3] for r in got] == [
        ("between", 0, "error"),
        ("clean", 0, "ok"),
        ("clean", 1, "ok"),
        ("in_chunk", 0, "error"),
    ]


def test_discovery_proxy_miss_byte_heavy_doc_not_dropped(spark):
    """A doc the span-count proxy under-calls (FEW spans, HUGE html) must be
    parsed in place by pass 1 — the round-2 'skip' guard would have dropped
    it silently under discovery routing."""
    big_table = (
        "<table><caption>big</caption>"
        + "".join(f"<tr><td>{'x' * 100}</td></tr>" for _ in range(50))
        + "</table>"
    )
    docs = spark.createDataFrame(
        [
            {"doc_id": "slim-mega", "spans": [
                {"kind": "text", "text": big_table, "media_ref": None, "offset": 0},
            ]},
            # a genuine span-count mega so the mega leg exists and the
            # normal leg's NOT-IN filter is exercised
            {"doc_id": "fat-mega", "spans": [
                {"kind": "text",
                 "text": f"<table id='t{i}'><tr><td>{i}</td></tr></table>",
                 "media_ref": None, "offset": i}
                for i in range(40)
            ]},
        ],
        DOCUMENTS_SCHEMA,
    )
    # threshold makes 'slim-mega' byte-mega (html ~5.7KB > 2KB) while its
    # span count (1) stays under the proxy hint
    out = _tables(
        docs, ParserConfig().all_tables(),
        num_partitions=4, mega_cost_threshold=2048, tables_per_chunk=8,
    )
    rows = {(r.doc_id, r.table_idx): r for r in out}
    assert ("slim-mega", 0) in rows, "byte-heavy proxy miss was dropped"
    assert rows[("slim-mega", 0)].caption == "big"
    assert rows[("slim-mega", 0)].status == "ok"
    # the span-heavy doc still yields all 40 tables through the chunk path
    fat = [k for k in rows if k[0] == "fat-mega"]
    assert len(fat) == 40


def test_discovery_null_doc_id_rides_normal_leg(spark):
    """doc_id IS NULL makes In() evaluate to NULL — such docs must land in
    the normal leg's INPUT, not vanish from both legs. DOCUMENTS_SCHEMA is
    non-nullable, but the routing predicate must not be the thing that
    loses a row if a foreign parquet writer relaxed nullability (and
    EXTRACTED_SCHEMA.doc_id is nullable so the row can surface without an
    executor-side NPE). Drives the REAL concurrent-legs discovery path
    end-to-end (not a hand-built predicate twin), so a regression in
    _prep_legs' isNull carve-out fails here."""
    import pyspark.sql.types as T

    nullable_schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), True),
            DOCUMENTS_SCHEMA["spans"],
        ]
    )
    docs = spark.createDataFrame(
        [
            {"doc_id": None, "spans": [
                {"kind": "text",
                 "text": "<table><tr><td>nullrow</td></tr></table>",
                 "media_ref": None, "offset": 0},
            ]},
            {"doc_id": "fat", "spans": [
                {"kind": "text",
                 "text": f"<table><tr><td>{i}</td></tr></table>",
                 "media_ref": None, "offset": i}
                for i in range(40)
            ]},
        ],
        nullable_schema,
    )
    rows = _tables(
        docs, ParserConfig().all_tables(),
        num_partitions=4, mega_cost_threshold=256, tables_per_chunk=8,
    )
    null_rows = [r for r in rows if r.doc_id is None]
    assert len(null_rows) == 1, "null-id doc must surface exactly once"
    assert null_rows[0].status == "ok"
    assert len([r for r in rows if r.doc_id == "fat"]) == 40


def test_discovery_duplicate_doc_id_extracts_each_row_once(spark):
    """doc_ids are not guaranteed unique in a foreign corpus: a small doc
    sharing a discovered mega doc's id must ride ONLY the normal leg (the
    mega leg conjoins its IN-pruning list with the span-count predicate),
    or its tables are emitted twice — once parsed in place, once through
    the chunk path."""
    docs = spark.createDataFrame(
        [
            {"doc_id": "X", "spans": [
                {"kind": "text",
                 "text": f"<table><tr><td>small{i}</td></tr></table>",
                 "media_ref": None, "offset": i}
                for i in range(3)
            ]},
            {"doc_id": "X", "spans": [
                {"kind": "text",
                 "text": f"<table><tr><td>big{i}</td></tr></table>",
                 "media_ref": None, "offset": i}
                for i in range(40)
            ]},
        ],
        DOCUMENTS_SCHEMA,
    )
    collected = _tables(
        docs, ParserConfig().all_tables(),
        num_partitions=4, mega_cost_threshold=256, tables_per_chunk=8,
    )
    cells = [s.text for r in collected for s in r.spans]
    assert len(collected) == 43, f"expected 43 tables, got {len(collected)}"
    for i in range(3):
        assert cells.count(f"small{i}") == 1, "small doc extracted twice"
    for i in range(40):
        assert cells.count(f"big{i}") == 1


def test_discovery_cap_falls_back_to_lazy_filter(spark, monkeypatch):
    """More candidates than DEFAULT_DISCOVER_CAP: discover_mega_ids returns
    None and the mega leg keeps its lazy span-count filter — the same rows
    as the whole-doc kernel."""
    from html_table_spark.plans import pipeline
    from html_table_spark.plans.pipeline import discover_mega_ids

    df, rows = _corpus_df(spark, n_docs=10, seed=23, mega_docs=3, mega_tables=60)
    ids = discover_mega_ids(df, span_count_hint=8, cap=2)
    assert ids is None  # 3 candidates > cap 2
    monkeypatch.setattr(pipeline, "DEFAULT_DISCOVER_CAP", 2)
    config = ParserConfig().all_tables()
    kwargs = dict(
        num_partitions=4, mega_cost_threshold=4096, tables_per_chunk=8
    )
    capped = _key_rows(_tables(df, config, **kwargs))
    assert capped == _kernel_rows(rows, config) and len(capped) > 0
