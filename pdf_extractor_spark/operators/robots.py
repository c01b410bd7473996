"""robots.txt permission matching at corpus scale (RFC 9309, public spec).

A crawl pipeline's politeness gate: every candidate url is checked against
its host's robots rules before fetch (and re-checked before re-crawl). The
RFC semantics implemented here:

- a rule is (host, type in {allow, disallow}, path pattern);
- patterns match as path PREFIXES, with ``*`` matching any octet sequence
  and a trailing ``$`` anchoring the match to the path end;
- the MOST SPECIFIC rule wins — longest pattern (octet length, the RFC's
  measure) first, and ``allow`` beats ``disallow`` on equal length;
- a url with no matching rule is allowed.

User-agent group resolution (picking which group of a robots.txt file
applies) happens at parse time upstream; this operator takes the already-
selected group's rules — the per-host rule table a fetcher keeps hot.

Scale shape: rules tables are small relative to the corpus (a few rules
per host; hosts follow the crawl's Zipf law) — the rule side BROADCASTS
and the big url side is scanned once: extract (host, path), broadcast
equi-join on host, per-row regex prefix test, one groupBy(id) max-struct
to apply the precedence. No window, no collect, no shuffle of the url side
beyond the final per-id aggregate (and that groupBy is on the unique row
id, so AQE folds it onto the join output partitioning).

Pattern -> regex translation is done with engine-portable string ops
(escape regex metacharacters, then ``*`` -> ``.*``), so an external SQL
engine can reproduce decisions exactly for wildcard-free rule sets; the
Java-regex-specific pieces stay in this module.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from pdf_extractor_spark.functions.urls import HOSTPORT_RE

# capture the path (no query/fragment); '' for bare-host urls
PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"


def _pattern_regex(pattern: Column) -> Column:
    """Translate a robots path pattern into an anchored Java/RE2 regex.

    Escape every regex metacharacter, turn ``*`` into ``.*``, honor one
    trailing ``$`` as an end anchor. Prefix semantics come from the
    leading ``^`` plus the absence of a trailing anchor otherwise.
    """
    anchored = pattern.endswith("$")
    body = F.when(
        anchored, pattern.substr(F.lit(1), F.length(pattern) - 1)
    ).otherwise(pattern)
    # escape metacharacters (incl. * for now), then reopen the wildcard
    escaped = F.regexp_replace(body, r"([.^$+?()\[\]{}|\\*])", r"\\$1")
    wild = F.regexp_replace(escaped, r"\\\*", ".*")
    return F.concat(
        F.lit("^"), wild, F.when(anchored, F.lit("$")).otherwise(F.lit(""))
    )


def prepare_rules(rules: DataFrame) -> DataFrame:
    """(host, rule_type, pattern) -> (host, rx, match_len, is_allow).

    ``match_len`` is the RFC's specificity measure: the octet length of
    the pattern (trailing ``$`` excluded — it matches no octets).
    """
    p = rules.select(
        F.col("host"),
        (F.col("rule_type") == "allow").alias("is_allow"),
        F.col("pattern"),
    )
    body_len = F.when(
        F.col("pattern").endswith("$"), F.length("pattern") - 1
    ).otherwise(F.length("pattern"))
    return p.select(
        "host",
        "is_allow",
        _pattern_regex(F.col("pattern")).alias("rx"),
        body_len.cast("int").alias("match_len"),
        F.col("pattern").alias("rule_pattern"),
    )


def robots_decisions(pages: DataFrame, rules: DataFrame) -> DataFrame:
    """Per-page fetch permission under the given robots rule set.

    Returns (doc_id, host, path, allowed, rule_pattern) where
    ``rule_pattern`` is the winning rule (null when no rule matched).
    """
    prepped = prepare_rules(rules)
    u = F.col("url")
    host = F.regexp_replace(
        F.lower(F.regexp_extract(u, HOSTPORT_RE, 1)), r":[0-9]+$", ""
    )
    path = F.regexp_extract(u, PATH_RE, 1)
    path = F.when(F.length(path) == 0, F.lit("/")).otherwise(path)
    keyed = pages.select(
        F.col("doc_id").alias("id"), host.alias("host"), path.alias("path")
    )
    hits = keyed.join(F.broadcast(prepped), "host", "left").withColumn(
        "_match",
        F.col("rx").isNotNull() & F.expr("regexp_like(path, rx)"),
    )
    best = F.max(
        F.when(
            F.col("_match"),
            F.struct(
                F.col("match_len").alias("l"),
                F.col("is_allow").cast("int").alias("a"),
                F.col("rule_pattern").alias("p"),
            ),
        )
    ).alias("_best")
    agg = hits.groupBy("id", "host", "path").agg(best)
    return agg.select(
        F.col("id").alias("doc_id"),
        "host",
        "path",
        F.coalesce(F.col("_best.a") == 1, F.lit(True)).alias("allowed"),
        F.col("_best.p").alias("rule_pattern"),
    )
