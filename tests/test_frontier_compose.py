"""The crawl-frontier round, composed end-to-end: sitemap discovery ->
URL canonicalization -> robots.txt gate -> crawled-history bloom dedup ->
per-host politeness join.  The frontier-side analog of corpus_select:
each stage is individually value-tested elsewhere; this asserts they
COMPOSE — schema contracts line up, the plan stays one-shuffle-per-stage,
and the final set equals a pycore replay."""

import pytest
from pyspark.sql import functions as F

from image_ocr_spark.functions.urls import normalize_url
from image_ocr_spark.operators.bloom import incremental_new
from image_ocr_spark.operators.robotsfrontier import (
    apply_robots,
    robots_host_meta,
    robots_rules,
    sitemap_entries,
    url_path,
)

_ROBOTS = """
User-agent: trainbot
Disallow: /private/
Crawl-delay: 2
Sitemap: http://{host}/sitemap.xml
User-agent: *
Disallow: /
"""

_SITEMAP = """<urlset>
  <url><loc>HTTP://{host}:80/page{i}?b=2&amp;a=1#frag</loc><priority>0.9</priority></url>
  <url><loc>http://{host}/private/page{i}</loc></url>
  <url><loc>http://{host}/dup</loc></url>
</urlset>"""


@pytest.fixture(scope="module")
def round_inputs(spark):
    hosts = [f"h{i}.example" for i in range(5)]
    robots = spark.createDataFrame(
        [(h, _ROBOTS.format(host=h)) for h in hosts],
        "host string, robots_txt string",
    )
    sitemaps = spark.createDataFrame(
        [(h, _SITEMAP.format(host=h, i=i)) for i, h in enumerate(hosts)],
        "host string, sitemap_xml string",
    )
    # history: /dup of every host was already crawled (canonical form)
    history = spark.createDataFrame(
        [(f"http://{h}/dup",) for h in hosts], "url string"
    )
    return hosts, robots, sitemaps, history


def test_frontier_round(spark, round_inputs):
    hosts, robots, sitemaps, history = round_inputs

    discovered = sitemap_entries(sitemaps).filter(F.col("kind") == "url")
    canon = discovered.select(
        "host", normalize_url(F.col("loc")).alias("url"), "priority_milli"
    )
    fresh = incremental_new(history, canon, key_col="url")
    rules = robots_rules(robots, agent="trainbot/1.0")
    gated = apply_robots(fresh, rules).filter(F.col("robots_allowed"))
    meta = robots_host_meta(robots, agent="trainbot/1.0")
    frontier = gated.join(meta, "host").select(
        "host", "url", "priority_milli", "crawl_delay_milli"
    )
    rows = frontier.collect()

    # exactly one survivor per host: the public page — canonicalized
    # (scheme/host lowercased, :80 dropped, query sorted, fragment cut),
    # /private gated by robots, /dup deduped against history
    assert len(rows) == len(hosts)
    for r in sorted(rows, key=lambda r: r.host):
        i = hosts.index(r.host)
        assert r.url == f"http://{r.host}/page{i}?a=1&b=2"
        assert r.priority_milli == 900 and r.crawl_delay_milli == 2000

    # next-round discovery: the robots files name each host's sitemap
    sm = {r.host: list(r.sitemaps) for r in meta.collect()}
    assert sm == {h: [f"http://{h}/sitemap.xml"] for h in hosts}


def test_frontier_plan_shape(spark, round_inputs):
    """The composed plan's Python is Arrow-batched and accounted for:
    the two host-sized parse stages plus bloom's vectorized bitmap probe;
    the rest of the URL-sized path (canonicalize, LIKE gate, joins) is
    JVM expressions, with no row-at-a-time Python anywhere."""
    hosts, robots, sitemaps, history = round_inputs
    canon = sitemap_entries(sitemaps).filter(F.col("kind") == "url").select(
        "host", normalize_url(F.col("loc")).alias("url")
    )
    gated = apply_robots(
        incremental_new(history, canon, key_col="url"),
        robots_rules(robots, agent="trainbot/1.0"),
    )
    plan = gated._jdf.queryExecution().executedPlan().toString()
    # Arrow stages exist only over the host-sized tables (the printed
    # plan repeats the sitemap-parse subtree wherever bloom's build and
    # probe each reference it, so count kinds, not occurrences)
    assert "MapInArrow" in plan
    # and no row-at-a-time Python anywhere on the URL-sized path
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    for line in plan.splitlines():
        if "MapInArrow" in line:
            assert (
                "robots_txt" in line      # robots parse (host-sized)
                or "sitemap_xml" in line  # sitemap parse (host-sized)
                or "probe(" in line       # bloom bit test (vectorized)
            ), line
