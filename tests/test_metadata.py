"""Page metadata extraction (operators/metadata.py)."""

from __future__ import annotations

from html_table_spark.operators.metadata import META_FIELDS, extract_page_meta


def test_full_head_first_wins():
    h = (
        '<html lang="en-US"><head><meta charset="utf-8">'
        "<title>My  Page</title><title>dup</title>"
        '<meta name="description" content="d1">'
        '<meta name="description" content="d2-ignored">'
        '<meta name="author" content="A. Person">'
        '<meta name="keywords" content="a, b">'
        '<meta property="og:title" content="OG T">'
        '<meta property="og:description" content="OG D">'
        '<meta property="og:image" content="http://x/i.png">'
        '<meta property="og:type" content="article">'
        '<link rel="canonical" href="http://x/canon">'
        '<base href="http://x/"></head><body><p lang="fr">x</p></body></html>'
    )
    m = extract_page_meta(h)
    assert m["title"] == "My Page"
    assert m["description"] == "d1"
    assert m["author"] == "A. Person"
    assert m["keywords"] == "a, b"
    assert m["og_title"] == "OG T"
    assert m["og_description"] == "OG D"
    assert m["og_image"] == "http://x/i.png"
    assert m["og_type"] == "article"
    assert m["canonical"] == "http://x/canon"
    assert m["base_href"] == "http://x/"
    assert m["charset"] == "utf-8"
    # the html element's lang wins over nested lang attrs
    assert m["lang"] == "en-US"


def test_lang_fallback_and_attr_forms():
    assert extract_page_meta("<p lang='de'>y</p>")["lang"] == "de"
    assert extract_page_meta("<html LANG=zh-CN><p>y</p>")["lang"] == "zh-CN"
    assert extract_page_meta("<div><span lang='it'>a</span></div>")["lang"] == "it"
    assert extract_page_meta("<p>nothing</p>")["lang"] is None


def test_http_equiv_charset_form():
    h = ('<meta http-equiv="Content-Type" '
         'content="text/html; charset=ISO-8859-1"><p>x</p>')
    assert extract_page_meta(h)["charset"] == "iso-8859-1"
    # meta charset wins when it comes first
    h2 = '<meta charset="UTF-8">' + h
    assert extract_page_meta(h2)["charset"] == "utf-8"


def test_canonical_needs_rel_token():
    assert (
        extract_page_meta('<link rel="stylesheet" href="s.css"><p>x</p>')["canonical"]
        is None
    )
    assert (
        extract_page_meta('<link rel="alternate canonical" href="/c"><p>x</p>')[
            "canonical"
        ]
        == "/c"
    )


def test_empty_none_and_missing_fields():
    for h in ("", None, "<p>just text</p>"):
        m = extract_page_meta(h)
        assert set(m) == set(META_FIELDS)
        assert m["title"] is None and m["charset"] is None


def test_spark_operator_and_registry(spark):
    import __spark_entry__ as entry
    from html_table_spark.operators.metadata import page_metadata

    docs = spark.createDataFrame(
        [("d1", "<title>T</title>"), ("d2", None)], "doc_id string, html string"
    )
    rows = {r["doc_id"]: r for r in page_metadata(docs).collect()}
    assert rows["d1"]["title"] == "T" and rows["d1"]["status"] == "ok"
    assert rows["d2"]["title"] is None and rows["d2"]["status"] == "ok"

    out = entry.mc_metadata(spark, "/root/testdata/sf0.001").collect()
    assert len(out) == 64
    assert all(r["status"] == "ok" for r in out)
    # the fixture rotation guarantees both present and absent fields
    assert any(r["title"] is None for r in out)
    assert any(r["title"] is not None for r in out)
    assert any(r["og_title"] is not None for r in out)
    assert any(r["lang"] == "de-DE" for r in out)
