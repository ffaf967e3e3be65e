"""robots.txt RFC 9309 parsing + evaluation (operators/robots.py)."""

from __future__ import annotations

import re

from html_table_spark.operators.robots import (
    parse_robots,
    pattern_to_regex,
    robots_allowed,
    robots_rules,
)


def test_parse_groups_and_directives():
    txt = """
# policy
User-agent: GoodBot
User-agent: OtherBot
Disallow: /private/
Allow: /ok
Sitemap: http://x/s.xml
User-agent: Third
Disallow: /t

User-agent: *
Disallow:
Allow:
"""
    rows = parse_robots(txt)
    rules = [r for r in rows if r["regex"] is not None]
    # every UA token records its group, rules or not
    assert [r["agent"] for r in rows if r["regex"] is None] == [
        "goodbot", "otherbot", "third", "*"
    ]
    # both UA tokens of the first group carry both rules
    assert {(r["agent"], r["pattern"], r["allow"]) for r in rules} == {
        ("goodbot", "/private/", False), ("otherbot", "/private/", False),
        ("goodbot", "/ok", True), ("otherbot", "/ok", True),
        ("third", "/t", False),
    }
    # empty Disallow/Allow produce no rules; rules before any UA ignored
    assert parse_robots("Disallow: /x\nUser-agent: a\nDisallow: /y") == [
        {"agent": "a", "allow": True, "pattern": None, "pattern_len": 0,
         "regex": None},
        {"agent": "a", "allow": False, "pattern": "/y", "pattern_len": 2,
         "regex": "^/y"},
    ]
    assert parse_robots("") == [] and parse_robots(None) == []


def test_sitemap_does_not_split_ua_run():
    txt = "User-agent: a\nSitemap: s\nUser-agent: b\nDisallow: /x"
    assert {r["agent"] for r in parse_robots(txt)} == {"a", "b"}
    # but a RULE does end the run: c gets its own group
    txt2 = "User-agent: a\nDisallow: /x\nUser-agent: c\nDisallow: /y"
    assert {(r["agent"], r["pattern"]) for r in parse_robots(txt2) if r["regex"]} == {
        ("a", "/x"), ("c", "/y")
    }


def test_pattern_translation_java_re2_safe():
    cases = [
        ("/a*b$", "/aXXb", True), ("/a*b$", "/aXXbY", False),
        ("/p+q(x)", "/p+q(x)tail", True), ("/p+q(x)", "/pq", False),
        ("/do$lar", "/do$lar", True),  # inner $ is a literal
        ("/", "/anything", True),
    ]
    for pat, path, expect in cases:
        assert bool(re.search(pattern_to_regex(pat), path)) is expect


def _verdicts(spark):
    import __spark_entry__ as entry

    rows = entry.tx_robots_filter(spark, "/root/testdata/sf0.001").collect()
    return {r["url"]: (r["allowed"], r["matched_pattern"]) for r in rows}


def test_rfc_decision_matrix(spark):
    v = _verdicts(spark)
    # exact-agent group on site-a (NOT the * group)
    assert v["http://site-a.example/private/x"] == (False, "/private/")
    # longest-match: Allow /private/pub* (12) beats Disallow /private/ (9)
    assert v["http://site-a.example/private/pub/ok"] == (True, "/private/pub*")
    # query strings participate in matching
    assert v["http://site-a.example/search?x=1&q=f"] == (False, "/search?*q=")
    assert v["http://site-a.example/search?plain"][0] is True
    # $ anchor: /tmp/ denied exactly, /tmp/file falls to Allow /tmp/
    assert v["http://Site-B.example/tmp/"] == (False, "/tmp/$")
    assert v["http://Site-B.example/tmp/file"] == (True, "/tmp/")
    assert v["http://Site-B.example/cgi-bin/run"] == (False, "/cgi*")
    # GoodBot has no group on site-c (OtherBot only) → default allowed
    assert v["http://site-c.example/private/x"] == (True, None)
    # host with no robots at all → allowed
    assert v["http://norobots.example/private/x"] == (True, None)
    # empty path normalizes to '/', matched against the * fallback? no —
    # site-a has an exact GoodBot group, so '/' has no matching rule
    assert v["http://site-a.example"] == (True, None)
    # userinfo + port: host still resolves to site-a.example
    assert v["https://u@site-a.example:8443/private/x"] == (False, "/private/")
    # an exact-agent group with only an empty Disallow still replaces the
    # * group (§2.2.1): GoodBot may fetch everything on site-d
    assert v["http://site-d.example/private/x"] == (True, None)
    assert v["http://site-d.example/"] == (True, None)


def test_no_python_on_url_side(spark):
    robots = spark.createDataFrame(
        [("h.example", "User-agent: *\nDisallow: /x")],
        "host string, robots_txt string",
    )
    rules = robots_rules(robots)
    urls = spark.createDataFrame([(1, "http://h.example/x")], "id long, url string")
    out = robots_allowed(urls, rules, agent="Bot")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # exactly one Python stage: the robots PARSE (host-count-sized);
    # the URL side is JVM joins/aggregates
    assert plan.count("MapInPandas") == 1
    assert out.collect()[0]["allowed"] is False
