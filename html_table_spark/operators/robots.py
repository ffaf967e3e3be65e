"""robots.txt (RFC 9309) parsing + crawl-permission evaluation.

A compliant crawl pipeline filters its URL frontier through each host's
robots.txt before fetching — and a 100-TB corpus build re-checks
compliance when re-processing crawl drops.  This module implements the
Robots Exclusion Protocol as published in RFC 9309:

* **parse** (§2.2): groups of ``User-agent`` lines followed by
  ``Allow``/``Disallow`` rules; keys case-insensitive; ``#`` comments;
  unknown directives ignored; an empty ``Disallow:`` value allows all
  (it can match nothing);
* **group selection** (§2.2.1): the group whose user-agent token equals
  the crawler's product token case-insensitively; the ``*`` group as
  fallback; no group → everything allowed;
* **matching** (§2.2.2): rule paths match as prefixes with ``*``
  wildcards and a ``$`` end anchor; the rule with the LONGEST pattern
  (octet length) wins; on a tie, ``Allow`` wins; no matching rule →
  allowed.  (Percent-encoding equivalence is documented out of scope,
  same as `functions/urls.py`.)

Scale design: robots files are host-count-sized (millions), the URL
frontier is corpus-sized (trillions) — so the PARSE runs in one Arrow
batch pass over the robots table (per-rule regex translation happens
there, in Python, on the small side), and the EVALUATION is pure JVM:
the rules relation broadcasts, URLs join on host, per-row ``RLIKE``
against the translated pattern regex (a safe subset — escaped literals,
``.*``, ``$`` — that Java regex and RE2 interpret identically), and a
two-column max-struct aggregation implements longest-match-allow-wins.
No Python touches the URL side, and the oracle twin replays the
DECISION logic in SQL (cross-engine), not just the kernel.

Reference parity note: the reference library has no crawling concerns;
this is part of the corpus-pipeline surface the build plan adds beyond
the reference (SURVEY.md §2 extension rows).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "parse_robots",
    "pattern_to_regex",
    "robots_rules",
    "robots_allowed",
    "RULES_SCHEMA",
]

RULES_SCHEMA = (
    "host string, agent string, allow boolean, pattern string, "
    "pattern_len int, regex string"
)

_META = re.compile(r"([.^+?(){}\[\]\\|])")


def pattern_to_regex(pattern: str) -> str:
    """RFC 9309 path pattern → anchored regex in the Java∩RE2-safe subset:
    metacharacters escaped, ``*`` → ``.*``, a TRAILING ``$`` → the regex
    end anchor (a ``$`` anywhere else is a literal octet, §2.2.3)."""
    end = pattern.endswith("$")
    body = pattern[:-1] if end else pattern
    rx = _META.sub(r"\\\1", body).replace("$", "\\$").replace("*", ".*")
    return "^" + rx + ("$" if end else "")


def parse_robots(text: str) -> list[dict]:
    """One robots.txt → rule dicts (§2.2 grammar, tolerant): each rule
    carries its group's user-agent tokens.  Rules before any User-agent
    line are ignored (they belong to no group, per the ABNF).  Each
    User-agent line also yields a group row (NULL pattern and regex, so it
    matches no path): an agent's group replaces ``*`` even when it has no
    rules, as in ``User-agent: a`` / ``Disallow:`` (§2.2.1)."""
    agents: list[str] = []
    rules: list[dict] = []
    last_was_rule = False
    for raw in (text or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if last_was_rule:
                agents = []  # a new group starts
            agents.append(value.lower())
            rules.append({"agent": value.lower(), "allow": True, "pattern": None,
                          "pattern_len": 0, "regex": None})
            last_was_rule = False
        elif key in ("allow", "disallow"):
            last_was_rule = True
            if not agents:
                continue
            if value == "":
                continue  # an empty pattern matches nothing (its group row stays)
            for agent in agents:
                rules.append(
                    {
                        "agent": agent,
                        "allow": key == "allow",
                        "pattern": value,
                        "pattern_len": len(value),
                        "regex": pattern_to_regex(value),
                    }
                )
        # unknown directives (Sitemap, Crawl-delay, ...) are ignored and do
        # NOT end a User-agent run — the §2.2 ABNF allows them inside a
        # group, so "UA: a / Sitemap: s / UA: b" is ONE group {a, b}
    return rules


def robots_rules(
    robots: DataFrame, host_col: str = "host", text_col: str = "robots_txt"
) -> DataFrame:
    """(host, robots_txt) → the rules relation (RULES_SCHEMA): one Arrow
    batch pass over the host-count-sized robots table — the small side of
    the evaluation join, meant to be broadcast."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for host, text in zip(pdf[host_col], pdf[text_col]):
                for r in parse_robots(text):
                    rows.append({"host": host, **r})
            yield pd.DataFrame(
                rows,
                columns=["host", "agent", "allow", "pattern",
                         "pattern_len", "regex"],
            )

    return robots.select(
        F.col(host_col).alias(host_col), F.col(text_col).alias(text_col)
    ).mapInPandas(run, schema=RULES_SCHEMA)


def robots_allowed(
    urls: DataFrame,
    rules: DataFrame,
    agent: str,
    id_col: str = "id",
    url_col: str = "url",
) -> DataFrame:
    """Crawl-permission verdict per URL: ``(id, url, host, path, allowed,
    matched_pattern)`` — pure JVM on the corpus side.

    Group selection: rows for the crawler's exact (lowercased) token if
    that host has a group for it, rules or not, else the ``*`` group
    (decided per host with one tiny aggregate on the broadcast-sized rules
    relation).  Matching:
    per-row RLIKE against the translated regex; winner =
    ``max(struct(pattern_len, allow))`` — longest pattern first, Allow
    winning ties, exactly §2.2.2's precedence.  Hosts with no rules (or
    no robots.txt at all) default to allowed.
    """
    from pyspark.sql import Window

    agent_lc = agent.lower()
    scoped = rules.where(F.col("agent").isin(agent_lc, "*"))
    # group selection in ONE pass over the rules relation (a per-host
    # window instead of aggregate+self-join, so the Arrow parse stage is
    # not duplicated in the plan; the relation is host-count-sized, so
    # the window is cheap and the result still broadcasts)
    group = (
        scoped.withColumn(
            "has_exact",
            F.max(F.col("agent") == agent_lc).over(Window.partitionBy("host")),
        )
        .where(
            (F.col("agent") == agent_lc)
            | (~F.col("has_exact") & (F.col("agent") == "*"))
        )
        .select("host", "allow", "pattern", "pattern_len", "regex")
    )
    parts = urls.select(
        F.col(id_col).alias(id_col),
        F.col(url_col).alias(url_col),
        F.lower(
            F.regexp_extract(F.col(url_col), r"^[^:/?#]*://(?:[^@/?#]*@)?([^:/?#]*)", 1)
        ).alias("host"),
        F.coalesce(
            F.nullif(
                F.regexp_extract(
                    F.col(url_col), r"^(?:[^:/?#]+:)?(?://[^/?#]*)?([^#]*)", 1
                ),
                F.lit(""),
            ),
            F.lit("/"),
        ).alias("path"),
    )
    # the match predicate lives INSIDE the aggregate (not a filter): a URL
    # on a rules-bearing host where no rule matches must still surface
    # with the default-allow verdict, not vanish from the output
    matched = (
        parts.join(F.broadcast(group), "host", "left")
        .groupBy(id_col, url_col, "host", "path")
        .agg(
            F.max(
                F.when(
                    F.col("regex").isNotNull() & F.expr("path RLIKE regex"),
                    F.struct(
                        F.col("pattern_len").alias("l"),
                        F.col("allow").alias("a"),
                        F.col("pattern").alias("p"),
                    ),
                )
            ).alias("win")
        )
    )
    return matched.select(
        id_col,
        url_col,
        "host",
        "path",
        F.coalesce(F.col("win.a"), F.lit(True)).alias("allowed"),
        F.col("win.p").alias("matched_pattern"),
    )
