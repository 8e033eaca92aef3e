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
    robots: DataFrame,
    agent: str = "*",
    host_col: str = "host",
    txt_col: str = "robots_txt",
    max_rules: int = 5000,
) -> DataFrame:
    """(host, rules): the crawler-selected rule group per host, rule
    paths pre-compiled to LIKE patterns, capped at ``max_rules`` per host
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

    rows = robots.select(
        F.col(host_col).alias("host"), F.col(txt_col).alias("robots_txt")
    )
    return map_rows(rows, rules, RULES_DDL)


def url_path(url: Column) -> Column:
    """Path+query octets of a url (the string RFC rules match against);
    empty path is '/'."""
    p = F.regexp_replace(url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*", "")
    return F.when(p == "", F.lit("/")).otherwise(p)


def apply_robots(
    urls: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    host_col: str = "host",
    out_col: str = "robots_allowed",
) -> DataFrame:
    """urls + boolean ``out_col``.  One equi-join on host (broadcast the
    rules side when it fits — at 10^7 hosts, bucket or let AQE decide),
    then a per-row array expression: filter the rules whose LIKE pattern
    matches the url's path, take array_max(struct(plen, is_allow)).
    Unknown host or no matching rule = allowed (RFC default)."""
    path = url_path(F.col(url_col))
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
    joined = urls.join(rules, on=host_col, how="left")
    return joined.withColumn(
        out_col, F.when(F.col("rules").isNull(), F.lit(True)).otherwise(verdict)
    ).drop("rules")


META_DDL = "host string, crawl_delay_milli long, sitemaps array<string>"

def robots_host_meta(
    robots: DataFrame,
    agent: str = "*",
    host_col: str = "host",
    txt_col: str = "robots_txt",
) -> DataFrame:
    """(host, crawl_delay_milli, sitemaps): the per-host politeness /
    discovery table a frontier scheduler joins against.  Scan-stage,
    zero shuffle, host-count-sized output; delay 0 = none declared for
    this crawler."""
    from ..pycore.robotstxt import parse_robots_extras, select_crawl_delay

    def meta(host, txt):
        sitemaps, delays = parse_robots_extras(txt or "")
        return [(host, select_crawl_delay(delays, agent), sitemaps)]

    rows = robots.select(
        F.col(host_col).alias("host"), F.col(txt_col).alias("robots_txt")
    )
    return map_rows(rows, meta, META_DDL)


SITEMAP_DDL = (
    "host string, kind string, loc string, lastmod string,"
    " changefreq string, priority_milli long"
)


def sitemap_entries(
    sitemaps: DataFrame, host_col: str = "host", xml_col: str = "sitemap_xml"
) -> DataFrame:
    """Exploded sitemap/sitemapindex entries per host — the discovery
    feed a frontier unions with the link graph.  Scan-stage mapInArrow
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

    rows = sitemaps.select(
        F.col(host_col).alias("host"), F.col(xml_col).alias("sitemap_xml")
    )
    return map_rows(rows, entries, SITEMAP_DDL)


# ---------------------------------------------------------------------------
# Politeness scheduling + crawl-budget allocation (r06) — the stage AFTER
# frontier_select: a selected frontier is not yet a crawl plan.  Real
# schedulers (Heritrix's frontier, Nutch's generate step) turn it into
# per-host fetch queues that respect crawl-delay and cap per-host volume
# by a centrality-derived budget.  Both stages are single-shuffle window/
# join expressions — no Python — and integer-exact, so DuckDB replays
# them by value (tests/test_frontier_compose.py).
# ---------------------------------------------------------------------------


def schedule_frontier(
    frontier: DataFrame,
    round_start_epoch_milli: int = 0,
    max_per_host: int | None = None,
) -> DataFrame:
    """(host, url, priority_milli, fetch_seq, fetch_epoch_milli): per-host
    fetch slots over a selected frontier — slot i of a host fetches at
    ``round_start + i * crawl_delay_milli`` (hosts declaring no delay
    schedule everything at round start: politeness is the HOST's claim,
    not the crawler's pacing policy).  Within a host, urls order by
    (priority desc, url asc) — deterministic under ties.  Optional
    ``max_per_host`` truncates each host's queue (the static form of the
    budget join below).

    ONE shuffle (window partitioned by host).  At 10^12 urls the window
    sorts per host partition and spills; a pathological mega-host is
    bounded by its budget, so the sort is capped too when
    ``max_per_host``/``allocate_crawl_budget`` is applied — apply the cap
    HERE, not downstream, to keep the sort bounded."""
    from pyspark.sql import Window

    w = Window.partitionBy("host").orderBy(
        F.desc("priority_milli"), F.asc("url")
    )
    # filter on the RAW row_number against a literal so Spark's
    # InferWindowGroupLimit can turn the window sort into a bounded
    # per-host top-k (plan-asserted in tests); deriving fetch_seq first
    # hides the rank from the optimizer's pattern
    out = frontier.withColumn("__rn", F.row_number().over(w))
    if max_per_host is not None:
        out = out.filter(F.col("__rn") <= int(max_per_host))
    return (
        out.withColumn("fetch_seq", F.col("__rn").cast("long") - 1)
        .drop("__rn")
        .withColumn(
            "fetch_epoch_milli",
            # try_*: an uncapped mega-host's tail slot x a huge delay
            # would raise ARITHMETIC_OVERFLOW under ANSI; a NULL fetch
            # time marks the absurd slot instead of killing the stage
            F.try_add(
                F.lit(round_start_epoch_milli),
                F.try_multiply(
                    F.col("fetch_seq"),
                    F.coalesce(F.col("crawl_delay_milli"), F.lit(0)),
                ),
            ),
        )
    )


def allocate_crawl_budget(
    hosts: DataFrame,
    total_budget: int,
    rank_col: str = "rank",
    min_per_host: int = 1,
) -> DataFrame:
    """(host, budget): per-host url budget proportional to a centrality
    prior (host_rank's integer micro-ranks), floored at ``min_per_host``
    — the CCNet/RefinedWeb-style 'crawl more where quality lives' knob.

    budget_h = max(min_per_host, (total_budget * rank_h) div sum(rank)) —
    exact integer arithmetic (rank sums fit int64 against micro-rank
    scales up to ~10^12 hosts * 10^6), deterministic, DuckDB-replayable.
    Flooring means sum(budget) can exceed total_budget by up to
    min_per_host * n_hosts — the standard allocation slack; callers
    wanting a hard global cap trim the tail by rank order."""
    total = hosts.agg(F.sum(rank_col).alias("t")).collect()[0].t or 1
    # integer `div`, never double `/`: at rank sums ~1e10 the double
    # quotient's ulp reaches the 1/total fraction grid and a truncate
    # could disagree with exact floor-div between engines.  try_multiply
    # (r07, ADVICE): at int64-edge rank scales a dominant host's
    # rank * total_budget would overflow and raise under ANSI.  The NULL
    # saturates UP to total_budget: rank <= sum(rank), so the true share
    # is at most total_budget, and an overflow only happens for a host
    # whose rank is huge — flooring it to min_per_host would starve
    # exactly the host the prior ranks highest
    share = F.expr(
        f"try_multiply(cast({total_budget} as bigint), {rank_col}) div {int(total)}"
    )
    return hosts.select(
        "host",
        F.greatest(
            F.lit(min_per_host).cast("long"),
            F.coalesce(share, F.lit(total_budget).cast("long")),
        ).alias("budget"),
    )


def schedule_with_budget(
    frontier: DataFrame,
    budgets: DataFrame,
    round_start_epoch_milli: int = 0,
) -> DataFrame:
    """schedule_frontier with a PER-HOST cap from allocate_crawl_budget.

    The sort bound is two-stage: the GLOBAL max budget (one tiny agg on
    the host-count-sized table) becomes schedule_frontier's LITERAL
    max_per_host — a rank-vs-literal predicate the optimizer can push
    into the window as a bounded per-host top-k — and the exact
    per-host budget then filters through a broadcast join (a
    rank-vs-column predicate is NOT pushable, so it must not be the
    only cap).  Consequence: hosts absent from the budget table are
    capped at the global max budget rather than unbounded — the sane
    scheduler default, and what keeps a pathological mega-host's sort
    bounded."""
    row = budgets.agg(F.max("budget").alias("m")).collect()[0]
    cap = None if row.m is None else int(row.m)
    sched = schedule_frontier(frontier, round_start_epoch_milli, max_per_host=cap)
    return sched.join(F.broadcast(budgets), "host", "left").filter(
        F.col("budget").isNull() | (F.col("fetch_seq") < F.col("budget"))
    ).drop("budget")


# sitemaps.org changefreq vocabulary -> recrawl interval, integer millis
# ('always' = always due; 'never' = excluded; '' / undeclared = caller's
# default).  The 'month' is the protocol's convention of 30 days.
CHANGEFREQ_INTERVAL_MILLI = {
    "always": 0,
    "hourly": 3_600_000,
    "daily": 86_400_000,
    "weekly": 604_800_000,
    "monthly": 2_592_000_000,
    "yearly": 31_536_000_000,
}
DEFAULT_RECRAWL_INTERVAL_MILLI = CHANGEFREQ_INTERVAL_MILLI["weekly"]


def recrawl_due(
    entries: DataFrame,
    now_epoch_milli: int,
    last_fetch_col: str = "last_fetch_epoch_milli",
    changefreq_col: str = "changefreq",
    default_interval_milli: int = DEFAULT_RECRAWL_INTERVAL_MILLI,
) -> DataFrame:
    """Rows DUE for recrawl at ``now`` — the freshness leg of the frontier
    lifecycle (discover -> select -> budget -> schedule -> RECRAWL):
    next_fetch = last_fetch + interval(changefreq), where the interval
    comes from the sitemap's declared changefreq
    (CHANGEFREQ_INTERVAL_MILLI), '' / undeclared falls back to
    ``default_interval_milli``, 'never' rows are excluded, and a NULL
    last_fetch (never crawled) is always due.  Adds
    ``next_fetch_epoch_milli`` and ``overdue_milli`` (now - next_fetch,
    the priority signal: stalest first).  A never-crawled row's
    next_fetch is the EPOCH (0), so its overdue_milli = now — it sorts
    AHEAD of every overdue backlog row under the stalest-first rule
    instead of starving at overdue 0.  Pure scan-stage CASE arithmetic —
    integer-exact, DuckDB-replayable, zero shuffle."""
    freq = F.lower(F.coalesce(F.col(changefreq_col), F.lit("")))
    interval = F.lit(default_interval_milli).cast("long")
    for name, ms in CHANGEFREQ_INTERVAL_MILLI.items():
        interval = F.when(freq == name, F.lit(ms).cast("long")).otherwise(interval)
    # try_add: a corrupt last_fetch near int64 max would otherwise raise
    # ARITHMETIC_OVERFLOW under Spark 4 ANSI and kill the stage; NULL
    # next_fetch (garbage timestamp) simply fails the <= now filter —
    # a year-292M fetch time is never due
    nxt = F.when(
        F.col(last_fetch_col).isNull(), F.lit(0).cast("long")
    ).otherwise(F.try_add(F.col(last_fetch_col), interval))
    return (
        entries.filter(freq != "never")
        .withColumn("next_fetch_epoch_milli", nxt)
        .filter(F.col("next_fetch_epoch_milli") <= now_epoch_milli)
        .withColumn(
            "overdue_milli",
            F.lit(now_epoch_milli) - F.col("next_fetch_epoch_milli"),
        )
    )
