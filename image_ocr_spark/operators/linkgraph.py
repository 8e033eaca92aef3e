"""Host-level link graph + exact-integer PageRank centrality.

Production web pipelines weight and prune crawl frontiers with host-level
link centrality (Common Crawl publishes harmonic/PageRank host ranks;
CCNet/RefinedWeb-style curation uses them as quality priors).  This module
builds that signal from raw pages in three composable stages:

1. **extract_links(pages)** — (url, href) per anchor, via one Arrow pass
   that calls the pycore extractor (pycore/links.py) per row: the Spark
   output is byte-identical to pure Python by construction, the same
   single-source-of-truth discipline as the tokenizer.  Scan-stage only.
2. **resolve_edges(links)** — (src_host, dst_host) per link: pure SQL
   string expressions (absolute http(s), protocol-relative, and
   site-relative hrefs; ALL '://'-less scheme hrefs and #-only dropped;
   scheme-specific default-port strip shared with functions/urls.py).
   DuckDB replays every branch bit-for-bit (tests/test_linkgraph.py).
3. **host_rank(edges)** — damped PageRank over the host multigraph in
   EXACT INTEGERS (micro-rank units, `div` integer division in both
   engines), so a fixed round count is replayed value-identically by an
   unrolled materialized-CTE DuckDB oracle — the same determinism recipe
   as Lloyd/k-means++ (operators/similarity.py).

Scale shape (the 100 TB story):
- link extraction rides the scan (no shuffle; hrefs are a few dozen
  strings per page);
- the edge relation aggregates to (src, dst, weight) — host pairs, which
  is ~10^9 rows for the whole web, NOT 10^12 (the per-page fan-in
  collapses in the map-side combine);
- each rank round is ONE shuffle (contributions grouped by dst host) and
  the loop carries the iterative-loop discipline proven in
  dedup_components: per-round EAGER localCheckpoint (plan growth is
  ~k^rounds without truncation — measured 104 s/round by iteration 4 in
  r04), the previous round's storage freed as soon as the next is
  materialized (operators/storage.py), the final ranks held until
  storage.release() / storage.scope(), fixed round count (PageRank
  contracts geometrically at rate = damping; 8-12 rounds is the
  production norm, and a fixed K is what makes the oracle replayable).

Dangling hosts (no out-links) keep receiving the base teleport mass but
redistribute nothing — the standard "mass leaks" simplification; ranks
remain a deterministic total order, which is all a quality prior needs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from image_ocr_spark.operators import storage
from image_ocr_spark.operators.rowmap import map_rows
from image_ocr_spark.pycore.links import find_hrefs

DEFAULT_ROUNDS = 8
DEFAULT_DAMPING_MILLI = 850
RANK_SCALE = 1_000_000  # one host's initial rank, in micro-rank units


def extract_links(pages: DataFrame) -> DataFrame:
    """(url, href) — one row per anchor with a non-empty href, in document
    order.  One Arrow pass over (url, html); everything else is pruned
    before the Python boundary (the fat-column discipline of the
    tokenizer)."""
    return map_rows(
        pages.select("url", "html"),
        lambda u, h: [(u, href) for href in find_hrefs(h or b"")],
        "url string, href string",
    )


def _strip_default_port(hostport: Column, scheme: Column) -> Column:
    """Scheme-specific default-port strip (functions/urls.py rule:
    http://h:443 is a DISTINCT origin and must not be conflated)."""
    return (
        F.when(scheme == "http", F.regexp_replace(hostport, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, ":443$", ""))
        .otherwise(hostport)
    )


def resolve_edges(links: DataFrame) -> DataFrame:
    """(src_host, dst_host) per link(url, href) — pure per-row string
    expressions (scan stage, shuffle-free, DuckDB-replayable).

    Branches, in order:
    - non-navigational schemes (any '^scheme:' href without '://':
      mailto:, javascript:, data:, tel:, skype:, about:, ...) and
      fragment-only hrefs -> dropped;
    - absolute http(s)://host/...  -> dst = lowercased host, scheme's
      default port stripped;
    - absolute OTHER-scheme hrefs (ftp:// ...) -> dropped (not part of
      the http host graph);
    - protocol-relative //host/... -> dst host with the SRC scheme's
      default-port rule (that is the scheme the link inherits);
    - everything else (site-relative /a, a/b, ../c, ?q) -> dst = src
      host.
    Rows whose src url has no parseable host are dropped.
    """
    href = F.btrim(F.col("href"))
    src_scheme = F.lower(F.regexp_extract(F.col("url"), "^([A-Za-z]+)://", 1))
    src_host = F.lower(F.regexp_extract(F.col("url"), "^[A-Za-z]+://([^/?#]+)", 1))
    src_host = _strip_default_port(src_host, src_scheme)

    href_scheme = F.lower(
        F.regexp_extract(href, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    )
    abs_host = F.lower(F.regexp_extract(href, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    proto_rel_host = F.lower(F.regexp_extract(href, "^//([^/?#]+)", 1))

    # Any scheme-prefixed href WITHOUT '://' is non-navigational for the
    # host graph (mailto:, javascript:, data:, tel:, but also skype:,
    # news:, about:blank, ...) — a fixed allowdeny list let the long tail
    # fall through to the site-relative branch and self-link the source
    # host.  RFC 3986: a relative reference cannot contain ':' in its
    # first path segment, so the colon test cannot misfire on one.
    # Scheme'd '://' hrefs are branched below (http/https kept, others
    # dropped there).
    dropped = (
        (href == "")
        | href.startswith("#")
        | (href.rlike("^[A-Za-z][A-Za-z0-9+.-]*:") & (href_scheme == ""))
    )
    dst = (
        F.when(
            href_scheme != "",
            F.when(
                href_scheme.isin("http", "https"),
                _strip_default_port(abs_host, href_scheme),
            ).otherwise(F.lit(None).cast("string")),
        )
        .when(href.startswith("//"), _strip_default_port(proto_rel_host, src_scheme))
        .otherwise(src_host)
    )
    return (
        links.select(
            src_host.alias("src_host"),
            F.when(dropped, F.lit(None).cast("string")).otherwise(dst).alias(
                "dst_host"
            ),
        )
        .filter(
            F.col("dst_host").isNotNull()
            & (F.col("dst_host") != "")
            & (F.col("src_host") != "")
        )
    )


def host_rank(edges: DataFrame, rounds: int = DEFAULT_ROUNDS) -> DataFrame:
    """(host, rank) — damped PageRank over the host multigraph of
    edges(src_host, dst_host) after ``rounds`` synchronous iterations, in
    exact micro-rank integers.

    r_0(v) = RANK_SCALE for every host seen as a source or target;
    r_{t+1}(v) = base + (d * contrib_t(v)) div 1000, where
    d = DEFAULT_DAMPING_MILLI,
    contrib_t(v) = sum over in-edges (u,v) of (r_t(u) * w_uv) div W_u,
    base = ((1000 - d) * RANK_SCALE) div 1000, w_uv = link
    multiplicity and W_u = total out-weight of u (column ``tw``).  All divisions are
    integer `div` on longs — deterministic across partitionings and
    engines, so the unrolled DuckDB oracle matches value-for-value.
    """
    if rounds < 1:
        raise ValueError("host_rank needs rounds >= 1")
    src, dst = F.col("src_host"), F.col("dst_host")
    # static per-edge relation: weight + source out-weight, checkpointed
    # once (it is re-joined every round)
    w = edges.groupBy(src.alias("src"), dst.alias("dst")).agg(
        F.count(F.lit(1)).alias("w")
    )
    outw = w.groupBy("src").agg(F.sum("w").alias("tw"))
    wj = storage.checkpoint(w.join(outw, "src"))
    nodes = storage.checkpoint(
        edges.select(src.alias("host"))
        .unionByName(edges.select(dst.alias("host")))
        .distinct()
    )

    base = ((1000 - DEFAULT_DAMPING_MILLI) * RANK_SCALE) // 1000
    r = nodes.withColumn("rank", F.lit(RANK_SCALE).cast("long"))
    prev = None
    for _ in range(rounds):
        contrib = (
            wj.join(r, wj["src"] == r["host"])
            .select("dst", F.expr("(rank * w) div tw").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("contrib"))
        )
        r_next = nodes.join(contrib, nodes["host"] == contrib["dst"], "left").select(
            "host",
            (
                F.lit(base)
                + F.expr(f"({DEFAULT_DAMPING_MILLI} * coalesce(contrib, 0L)) div 1000")
            ).alias("rank"),
        )
        # eager checkpoint = this round's materialization AND plan
        # truncation (dedup_components discipline); then free last round
        r = storage.checkpoint(r_next)
        if prev is not None:
            storage.free(prev)
        prev = r
    storage.free(wj, nodes)
    return storage.hold(r)


def canonical_urls(pages: DataFrame) -> DataFrame:
    """(url, canonical) — the page's declared rel=canonical target ('' if
    none).  Same one-Arrow-pass shape as extract_links; pycore
    (pycore/canonical.py) is the single source of truth."""
    from ..pycore.canonical import canonical_url

    return map_rows(
        pages.select("url", "html"),
        lambda u, h: [(u, canonical_url(h or b""))],
        "url string, canonical string",
    )


def canonical_groups(pages: DataFrame) -> DataFrame:
    """(canon_key, n_pages, representative): pages collapsed onto their
    declared canonical target — the dedup the web hands you for free,
    run BEFORE content hashing so variant URLs (tracking params,
    pagination, mirrors) never reach the byte-level dedups.  canon_key is
    the declared target when present else the page's own url; the
    representative is the url that IS its own canonical when one exists
    (else min url, deterministic).  One shuffle, map-side combined."""
    c = canonical_urls(pages)
    keyed = c.select(
        F.when(F.col("canonical") != "", F.col("canonical"))
        .otherwise(F.col("url"))
        .alias("canon_key"),
        "url",
    )
    return keyed.groupBy("canon_key").agg(
        F.count(F.lit(1)).alias("n_pages"),
        F.coalesce(
            F.min(F.when(F.col("url") == F.col("canon_key"), F.col("url"))),
            F.min("url"),
        ).alias("representative"),
    )
