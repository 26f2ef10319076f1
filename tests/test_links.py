from __future__ import annotations

from extractors_metadata_spark.plans.links import extract_outlinks, host_graph


def _pages(spark, rows):
    return spark.createDataFrame(
        [(u, bytearray(h.encode("utf-8"))) for u, h in rows],
        "url string, html binary",
    )


def test_document_order_positions(spark):
    html = (
        '<html><a href="https://a.example/1">x</a>'
        '<p><a href="https://b.example/2">y</a></p>'
        '<a href="https://a.example/3">z</a></html>'
    )
    df = _pages(spark, [("https://s.example/p", html)])
    got = sorted(
        (r["pos"], r["dst_url"]) for r in extract_outlinks(df).collect()
    )
    assert got == [
        (1, "https://a.example/1"),
        (2, "https://b.example/2"),
        (3, "https://a.example/3"),
    ]


def test_no_anchor_pages_emit_nothing(spark):
    df = _pages(spark, [("https://s.example/p", "<html><body>none</body></html>")])
    assert extract_outlinks(df).count() == 0


def test_malformed_anchors_skipped(spark):
    # single quotes / missing quotes don't match the frozen double-quote regex
    html = "<a href='https://a.example/1'>x</a><a href=https://b.example/2>y</a>"
    df = _pages(spark, [("https://s.example/p", html)])
    assert extract_outlinks(df).count() == 0


def test_host_graph_rollup(spark):
    rows = [
        (
            "https://s1.example/p1",
            '<a href="https://a.example/x">.</a><a href="https://a.example/y">.</a>'
            '<a href="https://b.example/z">.</a>',
        ),
        ("https://s2.example/p2", '<a href="https://a.example/q">.</a>'),
    ]
    got = {
        (r["src_host"], r["dst_host"]): r["n_links"]
        for r in host_graph(extract_outlinks(_pages(spark, rows))).collect()
    }
    assert got == {
        ("s1.example", "a.example"): 2,
        ("s1.example", "b.example"): 1,
        ("s2.example", "a.example"): 1,
    }


def test_robots_longest_match_and_allow_tie(spark):
    from extractors_metadata_spark.plans.links import robots_filter

    rules = [("/a", True), ("/a/b", False), ("/a/b/c", True), ("/x", False)]
    pages = spark.createDataFrame(
        [("https://h.example/a/z",), ("https://h.example/a/b/z",),
         ("https://h.example/a/b/c/z",), ("https://h.example/x",),
         ("https://h.example/unmatched",)],
        "url string",
    )
    got = {r["path"]: (r["rule_score"], r["crawlable"])
           for r in robots_filter(pages, rules).collect()}
    assert got["/a/z"] == (2 * 2 + 1, True)
    assert got["/a/b/z"] == (4 * 2 + 0, False)      # longer deny wins
    assert got["/a/b/c/z"] == (6 * 2 + 1, True)     # longest re-allow wins
    assert got["/x"] == (2 * 2 + 0, False)
    assert got["/unmatched"] == (-1, True)          # no rule -> crawlable
    # equal-length Allow beats Disallow: score parity decides
    tie = robots_filter(
        spark.createDataFrame([("https://h.example/t1",)], "url string"),
        [("/t", False), ("/t", True)],
    ).collect()[0]
    assert tie["crawlable"] is True


def test_anchor_text_index_topk_and_ties(spark):
    """Target /t gets anchors: 'best' x2, 'apple' x1, 'zebra' x1 ->
    rank1 = best(2), then the tie breaks lexically: apple, zebra; k=2
    cuts zebra. A second target keeps its own window."""
    from extractors_metadata_spark.plans.links import anchor_text_index

    def page(url, anchors):
        html = "".join(
            f'<a href="{d}">{t}</a>' for d, t in anchors
        ).encode()
        return (url, html)

    rows = [
        page("p1", [("/t", "best"), ("/t", "apple")]),
        page("p2", [("/t", "best"), ("/t", "zebra"), ("/u", "only")]),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    out = {
        (r["dst_url"], r["rnk"]): (r["text"], r["n"])
        for r in anchor_text_index(df, k=2).collect()
    }
    assert out[("/t", 1)] == ("best", 2)
    assert out[("/t", 2)] == ("apple", 1)
    assert ("/t", 3) not in out
    assert out[("/u", 1)] == ("only", 1)


def test_redirect_resolve_chains_loops_tails(spark):
    """0 is terminal; 1->2->0 resolves canonically; {3,4} is a 2-cycle
    (loop, canonical member 3 for both); 5 redirects INTO the cycle and
    is a loop page too."""
    from extractors_metadata_spark.plans.links import resolve_redirects

    rd = spark.createDataFrame(
        [(0, 0), (1, 2), (2, 0), (3, 4), (4, 3), (5, 3)],
        "v long, t long",
    )
    out = {
        r["url_id"]: (r["resolved_id"], r["status"])
        for r in resolve_redirects(rd, rounds=6).collect()
    }
    assert out[0] == (0, "canonical")
    assert out[1] == (0, "canonical") and out[2] == (0, "canonical")
    assert out[3] == (3, "loop") and out[4] == (3, "loop")
    assert out[5] == (3, "loop")
