"""Fixture HTML + configs F01–F15 (FIXTURES.md), transcribed from the
reference PHPUnit suite (/root/reference/src/ParserTest.php, exact
whitespace — rowspan carry is keyed by DOM child index *including*
whitespace text nodes, so formatting is load-bearing for F05).

The hand-derived expected values live in tests/test_semantics_fixtures.py;
this module only carries inputs so the corpus synthesizer and the tests
share one source of truth.
"""

from __future__ import annotations

from .config import TBODY, TFOOT, TR, ParserConfig

# ParserTest.php:23-44
F01_HTML = """<table class="table-csv-data" id="test">
<thead>
<tr><th scope="col">prenoms</th><th scope="col">nombre</th><th scope="col">sexe</th><th scope="col">annee</th></tr>
</thead>
<tbody>
<tr data-record-offset="4"><td title="prenoms">Abdoulaye</td><td title="nombre">15</td><td title="sexe">M</td><td title="annee">2004</td></tr>
<tr data-record-offset="5"><td title="prenoms">Abel</td><td title="nombre">14</td><td title="sexe">M</td><td title="annee">2004</td></tr>
<tr data-record-offset="6"><td title="prenoms">Abiga</td><td title="nombre">6</td><td title="sexe">F</td><td title="annee">2004</td></tr>
<tr data-record-offset="7"><td title="prenoms">Aboubacar</td><td title="nombre">8</td><td title="sexe">M</td><td title="annee">2004</td></tr>
</tbody>
</table>

<table class="table-csv-data" id="testb">
<tr><th scope="col">prenoms</th><th scope="col">nombre</th><th scope="col">sexe</th><th scope="col">annee</th></tr>
<tr data-record-offset="4"><td title="prenoms">Abdoulaye</td><td title="nombre">15</td><td title="sexe">M</td><td title="annee">2004</td></tr>
<tr data-record-offset="5"><td title="prenoms">Abel</td><td title="nombre">14</td><td title="sexe">M</td><td title="annee">2004</td></tr>
<tr data-record-offset="6"><td title="prenoms">Abiga</td><td title="nombre">6</td><td title="sexe">F</td><td title="annee">2004</td></tr>
<tr data-record-offset="7"><td title="prenoms">Aboubacar</td><td title="nombre">8</td><td title="sexe">M</td><td title="annee">2004</td></tr>
<tr data-record-offset="8"><td title="prenoms">Aboubakar</td><td title="nombre">6</td><td title="sexe">M</td><td title="annee">2004</td></tr>
</table>"""

# test_files/table.html:1-29 (full page with html/head/body wrappers)
FILE_HTML = """<!DOCTYPE html>
<html lang="en">
<head>
    <meta charset="UTF-8">
    <title>Table file</title>
</head>
<body>
<table class="table-csv-data" id="test">
    <thead>
    <tr><th scope="col">prenoms</th><th scope="col">nombre</th><th scope="col">sexe</th><th scope="col">annee</th></tr>
    </thead>
    <tbody>
    <tr data-record-offset="4"><td title="prenoms">Abdoulaye</td><td title="nombre">15</td><td title="sexe">M</td><td title="annee">2004</td></tr>
    <tr data-record-offset="5"><td title="prenoms">Abel</td><td title="nombre">14</td><td title="sexe">M</td><td title="annee">2004</td></tr>
    <tr data-record-offset="6"><td title="prenoms">Abiga</td><td title="nombre">6</td><td title="sexe">F</td><td title="annee">2004</td></tr>
    <tr data-record-offset="7"><td title="prenoms">Aboubacar</td><td title="nombre">8</td><td title="sexe">M</td><td title="annee">2004</td></tr>
    </tbody>
</table>

<table class="table-csv-data" id="testb">
    <tr><th scope="col">prenoms</th><th scope="col">nombre</th><th scope="col">sexe</th><th scope="col">annee</th></tr>
    <tr data-record-offset="4"><td title="prenoms">Abdoulaye</td><td title="nombre">15</td><td title="sexe">M</td><td title="annee">2004</td></tr>
    <tr data-record-offset="5"><td title="prenoms">Abel</td><td title="nombre">14</td><td title="sexe">M</td><td title="annee">2004</td></tr>
    <tr data-record-offset="6"><td title="prenoms">Abiga</td><td title="nombre">6</td><td title="sexe">F</td><td title="annee">2004</td></tr>
    <tr data-record-offset="7"><td title="prenoms">Aboubacar</td><td title="nombre">8</td><td title="sexe">M</td><td title="annee">2004</td></tr>
    <tr data-record-offset="8"><td title="prenoms">Aboubakar</td><td title="nombre">6</td><td title="sexe">M</td><td title="annee">2004</td></tr>
</table>
</body>
</html>"""

# ParserTest.php:232-243
F03_HTML = """<table class="table-csv-data" id="testb">
<tbody>
<tr><th scope="col">prenoms</th><th scope="col">nombre</th><th scope="col">sexe</th><th scope="col">annee</th></tr>
<tr data-record-offset="4"><td title="prenoms">Abdoulaye</td><td title="nombre">15</td><td title="sexe">M</td><td title="annee">2004</td></tr>
<tr data-record-offset="5"><td title="prenoms">Abel</td><td title="nombre">14</td><td title="sexe">M</td><td title="annee">2004</td></tr>
<tr data-record-offset="6"><td title="prenoms">Abiga</td><td title="nombre">6</td><td title="sexe">F</td><td title="annee">2004</td></tr>
<tr data-record-offset="7"><td title="prenoms">Aboubacar</td><td title="nombre">8</td><td title="sexe">M</td><td title="annee">2004</td></tr>
<tr data-record-offset="8"><td title="prenoms">Aboubakar</td><td title="nombre">6</td><td title="sexe">M</td><td title="annee">2004</td></tr>
</tbody>
</table>"""

# ParserTest.php:336-345
F04_HTML = """<table class="table-csv-data" id="testb">
<tr><th scope="col">prenoms</th><th scope="col">nombre</th><th scope="col">sexe</th><th scope="col">annee</th></tr>
<tr data-record-offset="4"><td title="prenoms" colspan="3">Abdoulaye</td><td title="annee">2004</td></tr>
<tr data-record-offset="5"><td title="prenoms">Abel</td><td title="nombre">14</td><td title="sexe">M</td><td title="annee">2004</td></tr>
<tr data-record-offset="6"><td title="prenoms">Abiga</td><td title="nombre">6</td><td title="sexe">F</td><td title="annee">2004</td></tr>
<tr data-record-offset="7"><td title="prenoms">Aboubacar</td><td title="nombre">8</td><td title="sexe">M</td><td title="annee">2004</td></tr>
<tr data-record-offset="8"><td title="prenoms">Aboubakar</td><td title="nombre">6</td><td title="sexe">M</td><td title="annee">2004</td></tr>
</table>"""

# ParserTest.php:496-538 — indentation preserved exactly (index-keyed carry)
F05_HTML = """<table>
    <thead>
        <tr>
            <th>Col 1</th>
            <th>Col 2</th>
            <th>Col 3</th>
            <th>Col 4</th>
            <th>Col 5</th>
        </tr>
    </thead>
    <tbody>
    <tr>
        <th>Col 1</th>
        <th colspan="2">colspan</th>
        <th>Col 4</th>
        <th>Col 5</th>
    </tr>
    <tr>
        <th>Col 1</th>
        <th>Col 2</th>
        <th colspan="3" rowspan="2">colspan+rowspan</th>
    </tr>
    <tr>
        <th>Col 1</th>
        <th>Col 2</th>
    </tr>
    <tr>
        <th>Col 1</th>
        <th rowspan="2">rowspan</th>
        <th>Col 3</th>
        <th>Col 4</th>
        <th>Col 5</th>
    </tr>
    <tr>
        <th>Col 1</th>
        <th>Col 3</th>
        <th>Col 4</th>
        <th>Col 5</th>
    </tr>
    </tbody>
</table>"""

# ParserTest.php:357-366
F06_HTML = """<table class="table-csv-data" id="testb">
<thead></thead>
<tr data-record-offset="4"><td title="prenoms" colspan="3">Abdoulaye</td><td title="annee">2004</td></tr>
<tr data-record-offset="5"><td title="prenoms">Abel</td><td title="nombre">14</td><td title="sexe">M</td><td title="annee">2004</td></tr>
<tr data-record-offset="6"><td title="prenoms">Abiga</td><td title="nombre">6</td><td title="sexe">F</td><td title="annee">2004</td></tr>
<tr data-record-offset="7"><td title="prenoms">Aboubacar</td><td title="nombre">8</td><td title="sexe">M</td><td title="annee">2004</td></tr>
<tr data-record-offset="8"><td title="prenoms">Aboubakar</td><td title="nombre">6</td><td title="sexe">M</td><td title="annee">2004</td></tr>
</table>"""

# ParserTest.php:444-454 (also the F08 source at :296-305 minus one row)
F07_HTML = """<table class="table-csv-data" id="testb">
<tfoot>
<tr data-record-offset="4"><td title="prenoms" colspan="3">Abdoulaye</td><td title="annee">2004</td></tr>
<tr data-record-offset="5"><td title="prenoms">Abel</td><td title="nombre">14</td><td title="sexe">M</td><td title="annee">2004</td></tr>
<tr data-record-offset="6"><td title="prenoms">Abiga</td><td title="nombre">6</td><td title="sexe">F</td><td title="annee">2004</td></tr>
<tr data-record-offset="7"><td title="prenoms">Aboubacar</td><td title="nombre">8</td><td title="sexe">M</td><td title="annee">2004</td></tr>
<tr data-record-offset="8"><td title="prenoms">Aboubakar</td><td title="nombre">6</td><td title="sexe">M</td><td title="annee">2004</td></tr>
</tfoot>
</table>"""

# ParserTest.php:296-305
F08_HTML = """<table class="table-csv-data" id="testb">
<tfoot>
<tr data-record-offset="5"><td title="prenoms">Abel</td><td title="nombre">14</td><td title="sexe">M</td><td title="annee">2004</td></tr>
<tr data-record-offset="6"><td title="prenoms">Abiga</td><td title="nombre">6</td><td title="sexe">F</td><td title="annee">2004</td></tr>
<tr data-record-offset="7"><td title="prenoms">Aboubacar</td><td title="nombre">8</td><td title="sexe">M</td><td title="annee">2004</td></tr>
<tr data-record-offset="8"><td title="prenoms">Aboubakar</td><td title="nombre">6</td><td title="sexe">M</td><td title="annee">2004</td></tr>
</tfoot>
</table>"""

# ParserTest.php:558-586 caption variants
F09_NO_CAPTION = '<table><tr><th>title 1</th><th>title 2</th><th>title 3</th></tr><tr><td>content 1</td><td>content 2</td><td>content 3</td></tr></table>'
F09_WITH_CAPTION = '<table><caption>this is the table title</caption><tr><th>title 1</th><th>title 2</th><th>title 3</th></tr><tr><td>content 1</td><td>content 2</td><td>content 3</td></tr></table>'
F09_TWO_CAPTIONS = '<table><caption>first caption</caption><caption>second caption</caption><tr><th>title 1</th><th>title 2</th><th>title 3</th></tr><tr><td>content 1</td><td>content 2</td><td>content 3</td></tr></table>'

# ParserTest.php:131-140, 260-273
F10_JUNK = "vasdfadadf"
F10_NO_TABLE = "<ol><li>foo</li></ol>"
F10_P_ONLY = "<p>this is not a table</p>"
F10_MALFORMED = "df<body></p>sghfd"  # ParserTest.php:383-385 (failOnXmlErrors)

# ParserTest.php:405-410 / 425-432
F11A_HTML = """<table class="table-csv-data" id="testb">
<thead><tr><th>I</th><th>exists</th></tr></thead>
<tbody><p>yolo</p></tbody>
</table>"""
F11B_HTML = """<table class="table-csv-data" id="testb">
<thead><p>yolo</p></thead>
<tbody><p>yolo</p></tbody>
<tfoot><p>yolo</p></tfoot>
<div></div>
</table>"""

# F13 (graft extension): F01's #test table with media refs inside cells.
F13_HTML = """<table class="table-csv-data" id="test">
<thead>
<tr><th scope="col">prenoms</th><th scope="col">nombre</th><th scope="col">sexe</th><th scope="col">annee</th></tr>
</thead>
<tbody>
<tr><td><img data-media-ref="m1"/>Abdoulaye</td><td>15</td><td>M</td><td>2004</td></tr>
<tr><td>Abel</td><td>14</td><td><object data-media-ref="m2">portrait</object>M</td><td>2004</td></tr>
</tbody>
</table>"""
F13_MEDIA_REFS = ["m1", "m2"]

# F15: resolved header with duplicate names → status='error'
F15_HTML = """<table>
<thead>
<tr><th>x</th><th>x</th><th>y</th></tr>
</thead>
<tbody>
<tr><td>1</td><td>2</td><td>3</td></tr>
</tbody>
</table>"""

# span-clamp variants (FIXTURES.md "Notes for the synthesizer")
CLAMP_HTML = """<table>
<tr><td colspan="0">a</td><td colspan="1001">b</td><td rowspan="0">c</td><td colspan="3x">d</td></tr>
<tr><td>e</td></tr>
</table>"""


def f14_mega_doc_html(n_tables: int = 2000) -> str:
    """F14 skew fixture: one mega-document with ``n_tables`` copies of the
    F01 #test table under distinct ids — exercises salting / mega-doc
    splitting (BASELINE.json north_star)."""
    table = F01_HTML.split("\n\n")[0]
    parts = []
    for i in range(n_tables):
        parts.append(table.replace('id="test"', f'id="t{i:04d}"'))
    return "\n".join(parts)


# Registry: fixture id → (html, ParserConfig). Expected values are asserted
# hand-derived in tests/test_semantics_fixtures.py.
FIXTURES: dict[str, tuple[str, ParserConfig]] = {
    "F01": (F01_HTML, ParserConfig()),
    "F02a": (FILE_HTML, ParserConfig().table_position(1)),
    "F02b": (FILE_HTML, ParserConfig().table_position("testb")),
    "F02c": (
        FILE_HTML,
        ParserConfig().table_position("testb").table_header_position(TR),
    ),
    "F03": (F03_HTML, ParserConfig().table_header_position(TBODY)),
    "F04": (F04_HTML, ParserConfig()),
    "F05": (F05_HTML, ParserConfig()),
    "F06": (F06_HTML, ParserConfig()),
    "F07": (F07_HTML, ParserConfig().exclude_section(TFOOT)),
    "F08a": (
        F08_HTML,
        ParserConfig().with_table_header({3: "Annee", 2: "Sexe", 0: "Firstname", 1: "Count"}),
    ),
    "F08b": (
        F08_HTML,
        ParserConfig().with_table_header({3: "Annee", 0: "Firstname", 1: "Count"}),
    ),
    "F09a": (F09_NO_CAPTION, ParserConfig()),
    "F09b": (F09_WITH_CAPTION, ParserConfig()),
    "F09c": (F09_NO_CAPTION, ParserConfig().with_caption("this is the table title")),
    "F09d": (F09_TWO_CAPTIONS, ParserConfig()),
    "F10a": (F10_JUNK, ParserConfig()),
    "F10b": (F10_NO_TABLE, ParserConfig()),
    "F10c": (F10_P_ONLY, ParserConfig().table_xpath_position("//p")),
    "F10d": (F10_MALFORMED, ParserConfig().fail_on_errors()),
    "F11a": (F11A_HTML, ParserConfig().table_header_position(TBODY)),
    "F11b": (F11B_HTML, ParserConfig().table_header_position(TR)),
    "F13": (F13_HTML, ParserConfig()),
    "F15": (F15_HTML, ParserConfig()),
    "CLAMP": (CLAMP_HTML, ParserConfig()),
}
