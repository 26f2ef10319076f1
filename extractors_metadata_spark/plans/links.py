"""Web-graph construction from raw HTML — outlink extraction.

The step every web-corpus pipeline runs between fetch and PageRank:
pull the anchor targets out of each page's raw HTML and aggregate them
into the host-level link graph (the input to link analysis such as
PageRank/HITS, crawl frontier scoring, and spam/hub analysis).  Reference analog: the
reference parses ONE embedded JSON block per page
(terrautils metadata load, terra_metadata.py); this widens the same
html-parsing stage to the document's full link surface.

Extraction is a single frozen regex over the decoded page —
``<a href="([^"]+)"`` — chosen from the PII-counts character-class
playbook: no backrefs, no lazy quantifiers, a negated class instead of
a dot, so Java regex (Spark) and RE2 (DuckDB) match byte-for-byte.
Match ORDER is part of the contract: ``pos`` is the 1-based position
of the anchor in document order (regexp_extract_all preserves scan
order in both engines).

Scale shape: one projection over one scan (decode + regexp + one
posexplode fan-out bounded by per-page outdegree); the host rollup is
a single map-side-combining aggregate on the (src_host, dst_host) key.
No UDFs, no shuffle before the rollup, whole-stage codegen end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

HREF_RE = '<a href="([^"]+)"'


def extract_outlinks(
    pages: DataFrame, html_col: str = "html", url_col: str = "url"
) -> DataFrame:
    """Anchor targets per page in document order -> (src_url, pos,
    dst_url); ``pos`` is 1-based.  Pages without anchors emit no rows."""
    html = F.decode(F.col(html_col), "UTF-8")
    return pages.select(
        F.col(url_col).alias("src_url"),
        F.posexplode(F.regexp_extract_all(html, F.lit(HREF_RE), F.lit(1))).alias(
            "pos0", "dst_url"
        ),
    ).select("src_url", (F.col("pos0") + 1).alias("pos"), "dst_url")


def robots_filter(
    pages: DataFrame,
    rules: list[tuple[str, bool]],
    url_col: str = "url",
) -> DataFrame:
    """Robots-exclusion evaluation -> (url, path, rule_score, crawlable):
    the REP longest-match rule (RFC 9309 / the Google rule): among the
    path-prefix rules matching a url's path, the LONGEST prefix decides;
    an Allow and Disallow of equal length tie in favor of Allow; no
    matching rule means crawlable.

    ``rules``: [(path_prefix, allow)] — a literal broadcast-sized ruleset
    (real robots files are a few hundred lines).  The decision folds into
    ONE integer: score = prefix_len * 2 + allow, and the verdict is a
    single GREATEST over K literal conditional scores — pure codegen,
    zero shuffle, zero fan-out, identical arithmetic in both engines.  rule_score = -1 encodes "no rule
    matched"."""
    if not rules:
        raise ValueError("robots_filter: empty ruleset")
    path = F.regexp_extract(F.col(url_col), r"^https?://[^/]+(/.*)$", 1)
    exprs = [
        F.when(
            F.col("path").startswith(prefix),
            F.lit(len(prefix) * 2 + (1 if allow else 0)),
        ).otherwise(F.lit(-1))
        for prefix, allow in rules
    ]
    best = exprs[0] if len(exprs) == 1 else F.greatest(*exprs)
    scored = pages.select(
        F.col(url_col).alias("url"), path.alias("path")
    ).select("url", "path", best.alias("rule_score"))
    return scored.select(
        "url",
        "path",
        "rule_score",
        ((F.col("rule_score") < 0) | (F.col("rule_score") % 2 == 1)).alias(
            "crawlable"
        ),
    )


def host_graph(outlinks: DataFrame) -> DataFrame:
    """Host-level link graph -> (src_host, dst_host, n_links) with
    self-host edges kept (intra-site navigation is signal too)."""
    host = lambda c: F.regexp_extract(F.col(c), r"^https?://([^/]+)/", 1)
    return (
        outlinks.select(
            host("src_url").alias("src_host"), host("dst_url").alias("dst_host")
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


def crawl_schedule(
    outlinks: DataFrame, n_workers: int = 8, delay_ms: int = 1000
) -> DataFrame:
    """Politeness-constrained crawl scheduling over the extracted
    frontier -> (url, host, n_inlinks, fetch_rank, fetch_time_ms,
    worker).

    The step between link extraction and the fetcher fleet: the frontier
    (distinct outlink targets) is prioritized per host by in-link count
    (crawl the most-referenced pages first; ties break on url — frozen
    rule), serialized under per-host politeness (fetch k waits
    (k-1) * delay_ms on its host's queue), and each HOST is pinned to
    one worker via the replayable mix31(poly) hash so no two workers
    ever hit the same host concurrently — the invariant a polite
    distributed crawler is built around.

    All outputs exact ints/strings. Plan: one url-keyed distinct-count
    aggregate, one per-host window rank (hosts are the natural crawl
    partition key — the window is each host's fetch queue), one codegen
    projection. At web scale the frontier shuffles once on url and once
    on host; both keys are the ones a production frontier store is
    already partitioned by.
    """
    from ..functions.vhash import mix31, poly_hash

    host = F.regexp_extract(F.col("url"), r"^https?://([^/]+)/", 1)
    frontier = (
        outlinks.groupBy(F.col("dst_url").alias("url"))
        .agg(F.countDistinct("src_url").alias("n_inlinks"))
        .select("url", host.alias("host"), "n_inlinks")
    )
    w = Window.partitionBy("host").orderBy(
        F.col("n_inlinks").desc(), F.col("url").asc()
    )
    ranked = frontier.withColumn(
        "fetch_rank", F.row_number().over(w).cast("int")
    )
    worker = (
        mix31(poly_hash(F.concat(F.lit("w:"), F.col("host")))) % n_workers
    ).cast("int")
    return ranked.select(
        "url",
        "host",
        "n_inlinks",
        "fetch_rank",
        ((F.col("fetch_rank") - 1).cast("long") * delay_ms).alias(
            "fetch_time_ms"
        ),
        worker.alias("worker"),
    )


ANCHOR_TEXT_RE = '<a href="([^"]+)">([^<]*)</a>'
ANCHOR_WORDS = (
    "spark", "join", "filter", "table", "merge", "sort", "query", "batch",
)


def anchor_text_index(
    pages: DataFrame,
    k: int = 3,
    html_col: str = "html",
    url_col: str = "url",
) -> DataFrame:
    """Inbound anchor-text aggregation -> (dst_url, rnk, text, n): for
    every link TARGET, its top-``k`` inbound anchor texts by count
    (ties to the lexicographically smaller text) — the classical
    strongest ranking signal in web search (anchor text describes the
    TARGET better than the target describes itself; Brin & Page 1998
    indexed it separately for exactly that reason).

    Extraction parses href AND text with one frozen Java==RE2 pattern
    (negated classes only — the outlinks discipline), zipped positionally
    (both engines' regexp_extract_all preserve scan order). Plan: one
    scan + posexplode bounded by outdegree, one (dst, text) count, one
    dst-keyed top-k window."""
    html = F.decode(F.col(html_col), "UTF-8")
    hrefs = F.regexp_extract_all(html, F.lit(ANCHOR_TEXT_RE), F.lit(1))
    texts = F.regexp_extract_all(html, F.lit(ANCHOR_TEXT_RE), F.lit(2))
    pairs = pages.select(
        F.explode(F.arrays_zip(hrefs.alias("dst"), texts.alias("txt"))).alias(
            "p"
        )
    ).select(F.col("p.dst").alias("dst_url"), F.col("p.txt").alias("text"))
    counts = pairs.groupBy("dst_url", "text").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("dst_url").orderBy(
        F.col("n").desc(), F.col("text").asc()
    )
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "dst_url", F.col("rnk").cast("long").alias("rnk"), "text", "n"
        )
    )


def resolve_redirects(
    redirects: DataFrame, rounds: int = 12
) -> DataFrame:
    """Redirect-chain resolution -> (url_id, resolved_id, status): every
    crawl frontier's canonicalization step — follow HTTP redirects to
    the terminal page, and DETECT LOOPS (the real-web failure mode a
    naive walk hangs on).

    ``redirects``: (v, t) — the full functional graph, terminals as
    self-loops (t = v). Pointer DOUBLING with a min-carry: per round
    ptr <- ptr(ptr) and mn <- min(mn, mn(ptr)) — after ``rounds``
    rounds ptr is the node 2^rounds steps ahead (the terminal, for any
    tail shorter than 2^rounds) and mn is the minimum node id on that
    walk. status = 'canonical' when the landing node is a fixpoint;
    otherwise 'loop', and resolved_id = mn(landing node) — the walk
    from a cycle node covers the whole cycle, so that is the cycle's
    canonical (minimum) member, the stable dedup key for loop pages.

    Fixed ``rounds`` IS the semantics (the watershed log-doubling
    recipe; 2^12 covers any real redirect chain), which keeps the
    oracle an exact unrolled replay. Per round: ONE self-equi-join on
    the narrow (v, p, mn) frame, localCheckpoint-truncated."""
    pt = redirects.select(
        F.col("v").cast("long").alias("v"),
        F.col("t").cast("long").alias("p"),
        F.least(F.col("v"), F.col("t")).cast("long").alias("mn"),
    ).localCheckpoint(eager=True)
    for _ in range(int(rounds)):
        q = pt.select(
            F.col("v").alias("_qv"),
            F.col("p").alias("_qp"),
            F.col("mn").alias("_qmn"),
        )
        pt = (
            pt.join(q, pt.p == q._qv)
            .select(
                "v",
                F.col("_qp").alias("p"),
                F.least(F.col("mn"), F.col("_qmn")).alias("mn"),
            )
            .localCheckpoint(eager=True)
        )
    fix = redirects.filter(F.col("v") == F.col("t")).select(
        F.col("v").alias("p"), F.lit(1).alias("_fx")
    )
    mn_of = pt.select(F.col("v").alias("p"), F.col("mn").alias("_pmn"))
    return (
        pt.join(F.broadcast(fix), "p", "left")
        .join(mn_of, "p")
        .select(
            F.col("v").alias("url_id"),
            F.when(F.col("_fx").isNotNull(), F.col("p"))
            .otherwise(F.col("_pmn"))
            .cast("long")
            .alias("resolved_id"),
            F.when(F.col("_fx").isNotNull(), "canonical")
            .otherwise("loop")
            .alias("status"),
        )
    )
