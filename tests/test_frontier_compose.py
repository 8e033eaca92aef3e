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


def test_schedule_frontier_matches_duckdb(spark):
    """Politeness scheduler (r06): per-host fetch slots respect
    crawl_delay, order by (priority desc, url asc), truncate at
    max_per_host — replayed by DuckDB row_number by value."""
    import duckdb

    from image_ocr_spark.operators.robotsfrontier import schedule_frontier

    rows = [
        # host, url, priority_milli, crawl_delay_milli
        ("h1", "http://h1/a", 900, 2000),
        ("h1", "http://h1/b", 900, 2000),   # tie -> url asc
        ("h1", "http://h1/c", 500, 2000),
        ("h1", "http://h1/d", 100, 2000),   # truncated at max_per_host=3
        ("h2", "http://h2/x", 700, 0),      # no delay -> all at start
        ("h2", "http://h2/y", 800, 0),
        ("h3", "http://h3/only", 500, None),  # null delay == none declared
    ]
    f = spark.createDataFrame(
        rows,
        "host string, url string, priority_milli long, crawl_delay_milli long",
    )
    sched = schedule_frontier(f, round_start_epoch_milli=1_000_000, max_per_host=3)
    # the literal cap must become a bounded per-host top-k — Partial
    # (map-side, pre-shuffle) AND Final WindowGroupLimit in the plan, so
    # a mega-host never sorts its full partition
    plan = sched._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") >= 2, plan
    got = sorted(
        (r.host, r.url, r.fetch_seq, r.fetch_epoch_milli)
        for r in sched.collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE f(host VARCHAR, url VARCHAR, priority_milli BIGINT,"
        " crawl_delay_milli BIGINT)"
    )
    con.executemany("INSERT INTO f VALUES (?,?,?,?)", rows)
    want = sorted(
        tuple(r)
        for r in con.execute(
            """
            SELECT host, url, seq,
                   1000000 + seq * coalesce(crawl_delay_milli, 0)
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY host
                    ORDER BY priority_milli DESC, url ASC)::BIGINT - 1 AS seq
                  FROM f)
            WHERE seq < 3
            """
        ).fetchall()
    )
    con.close()
    assert got == want
    by_host = {}
    for h, u, s, t in got:
        by_host.setdefault(h, []).append((s, u, t))
    assert [u for _, u, _ in sorted(by_host["h1"])] == [
        "http://h1/a", "http://h1/b", "http://h1/c"
    ]
    assert [t for _, _, t in sorted(by_host["h1"])] == [
        1_000_000, 1_002_000, 1_004_000
    ]
    assert all(t == 1_000_000 for _, _, t in by_host["h2"])


def test_budget_allocation_and_capped_schedule(spark):
    """Crawl budget proportional to host_rank micro-ranks (integer div,
    floored at min_per_host), then the budget-capped schedule — the
    full select -> budget -> schedule chain."""
    import duckdb

    from image_ocr_spark.operators.robotsfrontier import (
        allocate_crawl_budget,
        schedule_with_budget,
    )

    hosts = spark.createDataFrame(
        [("big", 3_000_000), ("mid", 900_000), ("tiny", 100_000)],
        "host string, rank long",
    )
    budgets = allocate_crawl_budget(hosts, total_budget=8, min_per_host=1)
    got_b = {r.host: r.budget for r in budgets.collect()}
    con = duckdb.connect()
    want_b = {
        h: max(1, (8 * r) // 4_000_000)
        for h, r in (("big", 3_000_000), ("mid", 900_000), ("tiny", 100_000))
    }
    con.close()
    assert got_b == want_b == {"big": 6, "mid": 1, "tiny": 1}

    frontier = spark.createDataFrame(
        [
            ("big", f"http://big/{i}", 1000 - i, 100) for i in range(10)
        ] + [
            ("tiny", f"http://tiny/{i}", 500, 100) for i in range(4)
        ] + [
            ("nobudget", "http://n/0", 500, 100),
        ],
        "host string, url string, priority_milli long, crawl_delay_milli long",
    )
    sched = schedule_with_budget(frontier, budgets)
    per_host = {
        h: n
        for h, n in sched.groupBy("host").count().collect()
    }
    # big capped at its budget 6, tiny at 1, unbudgeted host uncapped
    assert per_host == {"big": 6, "tiny": 1, "nobudget": 1}
    # the kept slots are the TOP-priority ones
    kept = sorted(
        r.url for r in sched.filter(F.col("host") == "big").collect()
    )
    assert kept == [f"http://big/{i}" for i in range(6)]


def test_budget_overflow_saturates_to_total_budget(spark):
    """A rank at the int64 edge overflows rank * total_budget.  The
    dominant host's true share is <= total_budget (its rank is at most
    the rank sum), so the overflowed share saturates UP to total_budget;
    it must not collapse to the min_per_host floor."""
    from image_ocr_spark.operators.robotsfrontier import allocate_crawl_budget

    hosts = spark.createDataFrame(
        [("dominant", 1 << 62), ("small", 1)], "host string, rank long"
    )
    budgets = allocate_crawl_budget(hosts, total_budget=1000, min_per_host=1)
    got = {r.host: r.budget for r in budgets.collect()}
    # true shares: floor(1000 * 2^62 / (2^62 + 1)) = 999 and 0 -> floor 1
    assert got == {"dominant": 1000, "small": 1}


def test_recrawl_due_matches_duckdb(spark):
    """Freshness leg (r06): changefreq -> interval, 'never' excluded,
    never-crawled always due, overdue_milli is the staleness priority —
    replayed by DuckDB by value."""
    import duckdb

    from image_ocr_spark.operators.robotsfrontier import recrawl_due

    NOW = 1_700_000_000_000
    H = 3_600_000
    rows = [
        # url, changefreq, last_fetch_epoch_milli
        ("u/hourly-due", "hourly", NOW - 2 * H),
        ("u/hourly-fresh", "hourly", NOW - H // 2),
        ("u/daily-edge", "daily", NOW - 24 * H),      # exactly due (<=)
        ("u/never", "never", NOW - 10_000 * H),
        ("u/always", "always", NOW),
        ("u/blank-default", "", NOW - 100 * H),       # weekly default: fresh
        ("u/blank-stale", "", NOW - 200 * 24 * H),    # weekly default: due
        ("u/uncrawled", "daily", None),
        ("u/caps", "HOURLY", NOW - 2 * H),            # lowercased
    ]
    df = spark.createDataFrame(
        rows, "url string, changefreq string, last_fetch_epoch_milli long"
    )
    got = sorted(
        (r.url, r.next_fetch_epoch_milli, r.overdue_milli)
        for r in recrawl_due(df, NOW).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE e(url VARCHAR, changefreq VARCHAR,"
        " last_fetch_epoch_milli BIGINT)"
    )
    con.executemany("INSERT INTO e VALUES (?,?,?)", rows)
    want = sorted(
        tuple(r)
        for r in con.execute(
            f"""
            WITH x AS (
              SELECT url,
                CASE lower(coalesce(changefreq, ''))
                  WHEN 'always' THEN 0 WHEN 'hourly' THEN 3600000
                  WHEN 'daily' THEN 86400000 WHEN 'weekly' THEN 604800000
                  WHEN 'monthly' THEN 2592000000
                  WHEN 'yearly' THEN 31536000000
                  ELSE 604800000 END AS iv,
                last_fetch_epoch_milli AS lf,
                lower(coalesce(changefreq, '')) AS f
              FROM e
            )
            SELECT url,
                   coalesce(lf + iv, 0)::BIGINT AS nxt,
                   ({NOW} - coalesce(lf + iv, 0))::BIGINT AS overdue
            FROM x WHERE f <> 'never' AND coalesce(lf + iv, 0) <= {NOW}
            """
        ).fetchall()
    )
    con.close()
    assert got == want
    urls = {u for u, _, _ in got}
    assert urls == {
        "u/hourly-due", "u/daily-edge", "u/always", "u/blank-stale",
        "u/uncrawled", "u/caps",
    }
    # never-crawled must outrank every backlog row under stalest-first
    by_url = {u: o for u, _, o in got}
    assert by_url["u/uncrawled"] == NOW
    assert by_url["u/uncrawled"] > max(
        o for u, o in by_url.items() if u != "u/uncrawled"
    )


def test_recrawl_and_schedule_survive_hostile_numerics(spark):
    """Overflow hardening (r06 self-probe): a corrupt last_fetch near
    int64 max must not raise ARITHMETIC_OVERFLOW under ANSI — the row is
    simply never due; an absurd slot x delay product yields a NULL fetch
    time instead of killing the stage."""
    from image_ocr_spark.operators.robotsfrontier import (
        recrawl_due,
        schedule_frontier,
    )

    NOW = 1_700_000_000_000
    df = spark.createDataFrame(
        [("u/corrupt", "daily", (1 << 63) - 10), ("u/sane", "daily", NOW - 2 * 86_400_000)],
        "url string, changefreq string, last_fetch_epoch_milli long",
    )
    got = {r.url for r in recrawl_due(df, NOW).collect()}
    assert got == {"u/sane"}  # corrupt timestamp dropped, no exception

    f = spark.createDataFrame(
        [("h", f"http://h/{i}", 100, (1 << 62)) for i in range(4)],
        "host string, url string, priority_milli long, crawl_delay_milli long",
    )
    rows = schedule_frontier(f, round_start_epoch_milli=0).collect()
    assert len(rows) == 4  # no ARITHMETIC_OVERFLOW
    by_seq = {r.fetch_seq: r.fetch_epoch_milli for r in rows}
    assert by_seq[0] == 0 and by_seq[1] == (1 << 62)
    assert by_seq[2] is None or by_seq[2] == (1 << 63) - 2**62  # 2*2^62 overflows
