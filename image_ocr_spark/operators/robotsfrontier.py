"""robots.txt gate over a URL frontier — the Spark side of RFC 9309.

Split by cardinality (the Spark-first move): there are ~10^7 hosts but
~10^12 urls at crawl scale, so the PARSE (real logic, pycore/robotstxt)
runs once per host in a scan-stage mapInArrow over the tiny robots
table, emitting rules pre-compiled to SQL LIKE patterns; the per-URL
verdict is then pure JVM column expressions — one broadcast/shuffle join
on host and an array fold, no Python anywhere near the URL table, and
the LIKE strings make the verdict replayable in DuckDB
(tests/test_robotstxt.py).

The most-specific-match + allow-wins-ties rule compiles to one
``array_max`` over ``struct(plen, is_allow)``: struct ordering compares
fields left to right, so the max is the longest pattern and, among equal
lengths, the allow — RFC 9309 §2.2.2 as a single expression.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from image_ocr_spark.operators.rowmap import map_rows

RULES_DDL = (
    "host string, rules array<struct<is_allow: boolean, like_pat: string,"
    " plen: int>>"
)


def robots_rules(
    robots: DataFrame, agent: str = "*", max_rules: int = 5000
) -> DataFrame:
    """robots(host, robots_txt) -> (host, rules): the crawler-selected rule
    group per host, rule paths pre-compiled to LIKE patterns, capped at ``max_rules`` per host
    (first rules win — the adversarial-robots bound every real parser
    applies).  Scan-stage, zero shuffle; output is host-count-sized."""
    from ..pycore.robotstxt import parse_robots_txt, select_group, to_like

    def rules(host, txt):
        group = select_group(parse_robots_txt(txt or ""), agent)
        # first max_rules win: every URL of the host pays O(|rules|) per
        # verdict, so an adversarial million-rule robots.txt must not set
        # that cost (real parsers bound the same way — Google stops
        # reading at 500 KiB)
        kept = group[:max_rules]
        return [(host, [(allow, to_like(pat), len(pat)) for allow, pat in kept])]

    return map_rows(robots.select("host", "robots_txt"), rules, RULES_DDL)


def url_path(url: Column) -> Column:
    """Path+query octets of a url (the string RFC rules match against);
    empty path is '/'."""
    p = F.regexp_replace(url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    return F.when(p == "", F.lit("/")).otherwise(p)


def apply_robots(urls: DataFrame, rules: DataFrame) -> DataFrame:
    """urls(url, host, ...) + boolean ``robots_allowed``.  One equi-join on
    host (broadcast the rules side when it fits — at 10^7 hosts, bucket or let AQE decide),
    then a per-row array expression: filter the rules whose LIKE pattern
    matches the url's path, take array_max(struct(plen, is_allow)).
    Unknown host or no matching rule = allowed (RFC default)."""
    path = url_path(F.col("url"))
    matched = F.filter(
        F.col("rules"),
        lambda r: F.like(path, r["like_pat"], F.lit("\\")),
    )
    verdict = F.when(F.size(matched) > 0, F.array_max(
        F.transform(
            matched,
            lambda r: F.struct(
                r["plen"].alias("plen"), r["is_allow"].alias("is_allow")
            ),
        )
    )["is_allow"]).otherwise(F.lit(True))
    joined = urls.join(rules, on="host", how="left")
    return joined.withColumn(
        "robots_allowed", F.when(F.col("rules").isNull(), F.lit(True)).otherwise(verdict)
    ).drop("rules")


META_DDL = "host string, crawl_delay_milli long, sitemaps array<string>"

def robots_host_meta(robots: DataFrame, agent: str = "*") -> DataFrame:
    """robots(host, robots_txt) -> (host, crawl_delay_milli, sitemaps): the
    per-host politeness / discovery table a frontier scheduler joins
    against.  Scan-stage,
    zero shuffle, host-count-sized output; delay 0 = none declared for
    this crawler."""
    from ..pycore.robotstxt import parse_robots_extras, select_crawl_delay

    def meta(host, txt):
        sitemaps, delays = parse_robots_extras(txt or "")
        return [(host, select_crawl_delay(delays, agent), sitemaps)]

    return map_rows(robots.select("host", "robots_txt"), meta, META_DDL)


SITEMAP_DDL = (
    "host string, kind string, loc string, lastmod string,"
    " changefreq string, priority_milli long"
)


def sitemap_entries(sitemaps: DataFrame) -> DataFrame:
    """Exploded sitemap/sitemapindex entries per sitemaps(host,
    sitemap_xml) row — the discovery feed a frontier unions with the link
    graph.  Scan-stage mapInArrow
    (pycore/sitemap.py single source of truth), zero shuffle; `kind` is
    'url' for page entries, 'sitemap' for index children (crawl those
    next round — the same resumable-frontier shape as WARC segments)."""
    from ..pycore.sitemap import parse_sitemap

    def entries(host, xml):
        parsed = parse_sitemap(xml or "")
        return [
            (host, "url", loc, lastmod, freq, prio)
            for loc, lastmod, freq, prio in parsed["urls"]
        ] + [
            (host, "sitemap", loc, lastmod, "", 0)
            for loc, lastmod in parsed["sitemaps"]
        ]

    return map_rows(sitemaps.select("host", "sitemap_xml"), entries, SITEMAP_DDL)
