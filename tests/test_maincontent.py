"""Main-content extraction (boilerplate strip): segmentation + WSDM-2010
NumWordsRules classifier + readability css pre-filter, pure-Python and
through the Spark operator."""

from __future__ import annotations

import pytest

from html_table_spark.htmldom import parse_html
from html_table_spark.operators.maincontent import (
    Block,
    classify_blocks,
    extract_main_blocks,
    main_text,
    segment_blocks,
)


def blocks_of(html: str):
    root, _ = parse_html(html)
    return segment_blocks(root)


def mk(idx, n_words, n_link_words=0, hint=False):
    return Block(idx, "p", " ".join(["w"] * n_words), n_words, n_link_words, hint)


# ---------------------------------------------------------------------------
# segmentation
# ---------------------------------------------------------------------------

def test_segments_at_block_boundaries():
    bs = blocks_of("<div>one two</div><p>three</p><span>four</span>")
    # span is inline: its text joins the block opened after </p>
    assert [(b.text, b.n_words) for b in bs] == [
        ("one two", 2), ("three", 1), ("four", 1)]


def test_inline_markup_does_not_split():
    bs = blocks_of("<p>a <b>bold</b> c <i>i</i> d</p>")
    assert [b.text for b in bs] == ["a bold c i d"]
    assert bs[0].n_words == 5


def test_link_words_counted_nested():
    bs = blocks_of('<p>x <a href="#">one <b>two</b></a> y</p>')
    (b,) = bs
    assert (b.n_words, b.n_link_words) == (4, 2)
    assert b.link_density == pytest.approx(0.5)


def test_script_style_head_excluded():
    bs = blocks_of(
        "<head><title>t</title></head><body><script>var x=1;</script>"
        "<style>p{}</style><noscript>no</noscript><p>real</p></body>")
    assert [b.text for b in bs] == ["real"]


def test_comments_excluded():
    bs = blocks_of("<p>a <!-- hidden words --> b</p>")
    assert [b.text for b in bs] == ["a b"]


def test_whitespace_normalized():
    bs = blocks_of("<p>  a\n\t b   c </p>")
    assert bs[0].text == "a b c"
    assert bs[0].n_words == 3


def test_br_splits_blocks():
    bs = blocks_of("<p>line one<br>line two</p>")
    assert [b.text for b in bs] == ["line one", "line two"]


def test_empty_blocks_dropped():
    bs = blocks_of("<div></div><div>  </div><p>x</p>")
    assert [b.text for b in bs] == ["x"]


def test_css_hint_from_id_and_class():
    for attr in ('class="site-nav"', 'id="footer"', 'class="a sidebar b"'):
        bs = blocks_of(f"<div {attr}>menu items here</div><p>body text</p>")
        assert bs[0].css_hint is True, attr
        assert bs[1].css_hint is False


def test_css_hint_requires_match():
    bs = blocks_of('<div class="article-body">text here</div>')
    assert bs[0].css_hint is False


def test_nested_tables_segment_per_cell():
    bs = blocks_of("<table><tr><td>a a</td><td>b</td></tr></table>")
    assert [b.text for b in bs] == ["a a", "b"]


def test_malformed_html_tolerated():
    # unclosed tags — the tolerant parser must still yield the text
    bs = blocks_of("<div><p>one two <div>three")
    assert " ".join(b.text for b in bs).split() == ["one", "two", "three"]


def test_deep_nesting_no_recursion_error():
    """libxml2, parsing as the reference does (no HTML_PARSE_HUGE), stops
    256 elements deep and drops the rest of the document; what it built
    still segments, with no RecursionError."""
    html = "<p>top</p>" + "<div>" * 3000 + "deep" + "</div>" * 3000 + "<p>after</p>"
    assert [b.text for b in blocks_of(html)] == ["top"]
    shallow = "<div>" * 200 + "deep" + "</div>" * 200
    assert [b.text for b in blocks_of(shallow)] == ["deep"]


# ---------------------------------------------------------------------------
# classifier (NumWordsRulesClassifier decision tree, WSDM 2010)
# ---------------------------------------------------------------------------

def test_high_link_density_is_boilerplate():
    bs = [mk(0, 9, n_link_words=4)]  # 4/9 > 0.333333
    assert classify_blocks(bs) == [False]


def test_css_hint_forces_boilerplate():
    bs = [mk(0, 100, hint=True)]
    assert classify_blocks(bs) == [False]


def test_low_prev_ld_branch():
    # prev.link_density <= 0.555: content iff cur>16 or next>15 or prev>4
    prev, nxt = mk(0, 2), mk(2, 2)
    assert classify_blocks([prev, mk(1, 17), nxt])[1] is True  # cur > 16
    assert classify_blocks([prev, mk(1, 16), nxt])[1] is False
    assert classify_blocks([prev, mk(1, 5), mk(2, 16)])[1] is True  # next > 15
    assert classify_blocks([mk(0, 5), mk(1, 5), nxt])[1] is True  # prev > 4
    assert classify_blocks([prev, mk(1, 5), nxt])[1] is False


def test_high_prev_ld_branch():
    # prev.link_density > 0.555: content iff cur>40 or next>17
    prev = mk(0, 3, n_link_words=2)  # ld = 0.667
    nxt = mk(2, 3)
    assert classify_blocks([prev, mk(1, 41), nxt])[1] is True
    assert classify_blocks([prev, mk(1, 40), nxt])[1] is False
    assert classify_blocks([prev, mk(1, 40), mk(2, 18)])[1] is True


def test_boundary_blocks_use_zero_neighbours():
    # single block, no neighbours: prev = 0 words / ld 0 → low-ld branch
    assert classify_blocks([mk(0, 17)]) == [True]
    assert classify_blocks([mk(0, 16)]) == [False]


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

PAGE = (
    '<html><body><div class="nav"><a href="#">home</a> <a href="#">x</a> '
    '<a href="#">y</a></div><p>{body}</p>'
    '<div class="footer"><a href="#">c</a> <a href="#">s</a> z</div>'
    "</body></html>"
)


def test_extract_main_blocks_spark(spark):
    long_body = " ".join(f"w{i}" for i in range(45))
    docs = spark.createDataFrame(
        [("1", PAGE.format(body=long_body)), ("2", PAGE.format(body="tiny text"))],
        "doc_id string, html string",
    )
    rows = extract_main_blocks(docs).orderBy("doc_id", "block_idx").collect()
    assert [(r.doc_id, r.block_idx, r.is_content) for r in rows] == [
        ("1", 0, False), ("1", 1, True), ("1", 2, False),
        ("2", 0, False), ("2", 1, False), ("2", 2, False),
    ]
    mid = rows[1]
    assert mid.block_text == long_body
    assert mid.n_words == 45
    assert mid.link_density == 0.0
    assert rows[0].css_hint and rows[2].css_hint


def test_main_text_spark(spark):
    long_body = " ".join(f"w{i}" for i in range(45))
    docs = spark.createDataFrame(
        [("1", PAGE.format(body=long_body)), ("2", PAGE.format(body="tiny")),
         ("3", None)],
        "doc_id string, html string",
    )
    got = {r.doc_id: r.main_text for r in main_text(docs).collect()}
    assert got == {"1": long_body, "2": "", "3": ""}


def _page_corpus(spark, n_docs: int, null_id: bool = False):
    """``n_docs`` pages; with ``null_id``, the last page's doc_id is null
    (a foreign writer may relax the schema's non-null doc_id)."""
    from pyspark.sql.types import StructField, StructType

    from html_table_spark.sources.documents import DOCUMENTS_SCHEMA

    rows = [
        {
            "doc_id": f"d{i:03d}",
            "spans": [{
                "kind": "text",
                "text": PAGE.format(
                    body=" ".join(f"w{i}x{j}" for j in range(20 + i))
                ),
                "media_ref": None,
                "offset": 0,
            }],
        }
        for i in range(n_docs)
    ]
    if not null_id:
        return spark.createDataFrame(rows, DOCUMENTS_SCHEMA)
    rows[-1]["doc_id"] = None
    relaxed = StructType([StructField(f.name, f.dataType, True) for f in DOCUMENTS_SCHEMA])
    return spark.createDataFrame(rows, relaxed)


def test_run_maincontent_job_resume(spark, tmp_path):
    from pyspark.sql import functions as F

    from html_table_spark.operators.maincontent import run_maincontent_job
    from html_table_spark.sources.sinks import SnapshotSink

    # 24 pages and one whose doc_id is null; the null id hashes to 42, so
    # it is in the first half
    df = _page_corpus(spark, 25, null_id=True)
    sink = SnapshotSink(str(tmp_path / "mc"))
    half = df.filter(F.xxhash64("doc_id") % 2 == 0)
    m1 = run_maincontent_job(spark, half, sink)
    # the manifest sums the lineage, whose doc_count counts distinct
    # non-null ids: the null-id page's blocks count, its id does not
    assert m1["docs"] == half.count() - 1
    assert m1["blocks"] == 3 * half.count()  # nav / body / footer per page

    # second run over the FULL corpus resumes: only the other half runs
    m2 = run_maincontent_job(spark, df, sink)
    assert m2["run_id"] != m1["run_id"]
    assert m2["docs"] == df.count() - half.count()
    from html_table_spark.operators.maincontent import _JOB_SCHEMA

    committed = sink.read_committed(spark, schema=_JOB_SCHEMA)
    assert committed.select("doc_id").distinct().count() == df.count()
    dup = (
        committed.groupBy("doc_id", "block_idx").count()
        .filter(F.col("count") > 1).count()
    )
    assert dup == 0  # no doc processed twice across snapshots

    # third run over the same corpus is a no-op snapshot
    m3 = run_maincontent_job(spark, df, sink)
    assert m3["blocks"] == 0 and m3["docs"] == 0

    # per-partition lineage + metrics rows committed with each run; the
    # manifests' totals are their sums
    for m in (m1, m2):
        lineage = spark.read.parquet(m["lineage_path"])
        agg = lineage.agg(
            F.sum("doc_count").alias("docs"),
            F.sum("block_count").alias("blocks"),
            F.sum("content_count").alias("content"),
            F.max("wall_ms").alias("wall"),
        ).first()
        assert agg.docs == m["docs"] and agg.blocks == m["blocks"]
        assert 0 < agg.content  # long bodies classify as content
        assert agg.wall >= 0
        assert lineage.filter(F.col("run_id") != m["run_id"]).count() == 0


def test_resumed_one_file_corpus_spreads(spark, tmp_path):
    """A one-file, one-row-group corpus cut into byte ranges by the scan
    fills one of them, so the job spreads it over the cores. A resumed run
    spreads it too: the files its resume filter joins are not corpus
    files."""
    from html_table_spark.operators.maincontent import run_maincontent_job
    from html_table_spark.sources.documents import read_documents
    from html_table_spark.sources.sinks import SnapshotSink

    path = str(tmp_path / "pages")
    _page_corpus(spark, 24).coalesce(1).write.parquet(path)
    sink = SnapshotSink(str(tmp_path / "mc"))
    confs = {"spark.sql.files.openCostInBytes": "0", "spark.sql.files.maxPartitionBytes": "1024"}
    before = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        docs = read_documents(spark, path)
        assert docs.rdd.getNumPartitions() >= 8
        run_maincontent_job(spark, docs.filter("doc_id < 'd008'"), sink)
        resumed = run_maincontent_job(spark, docs, sink)
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)
    assert resumed["docs"] == 16
    assert spark.read.parquet(resumed["lineage_path"]).count() >= 2


def test_job_cli_maincontent_mode(spark, tmp_path, monkeypatch):
    """--mode maincontent routes the entrypoint through the boilerplate
    pipeline (call main() in-process; spark-submit is covered by the
    table-mode smoke in scripts/submit.sh)."""
    import html_table_spark.plans.job as job

    df = _page_corpus(spark, 6)
    src = str(tmp_path / "in.parquet")
    df.write.parquet(src)
    # reuse the live test session instead of building a fresh one
    monkeypatch.setattr(job, "get_spark", lambda app="x": spark)
    manifest = job.main([
        "--input", src, "--output", str(tmp_path / "out"),
        "--mode", "maincontent",
    ])
    assert manifest["docs"] == 6 and manifest["blocks"] == 18


def test_main_text_multi_block_order(spark):
    paras = ["first " + " ".join(["a"] * 20), "second " + " ".join(["b"] * 20)]
    html = "<body><p>" + "</p><p>".join(paras) + "</p></body>"
    docs = spark.createDataFrame([("1", html)], "doc_id string, html string")
    (row,) = main_text(docs).collect()
    assert row.main_text == "\n".join(paras)
