"""PII pattern ops (functions/textstats.py): pii_counts and pii_redact on
small hand-checkable fixtures; the driver oracles cover scale."""

from __future__ import annotations


def test_pii_counts_patterns(spark):
    from pyspark.sql import functions as F

    from extractors_metadata_spark.functions.textstats import pii_counts

    df = spark.createDataFrame(
        [(1, "mail a@b.co and c.d+x@e-f.org, see https://x.co/1 call 555-123-4567")],
        "doc_id int, text string",
    )
    cols = pii_counts(F.col("text"))
    r = df.select(*[v.alias(k) for k, v in cols.items()]).collect()[0]
    assert (r["n_emails"], r["n_urls"], r["n_phones"]) == (2, 1, 1)


def test_pii_redact_masks_and_order(spark):
    """The frozen email -> url -> phone chain: an email inside a URL path is
    masked first, then the URL mask swallows it; phone runs are masked
    last; clean text passes through byte-identical."""
    from extractors_metadata_spark.functions.textstats import pii_redact

    rows = [
        (0, "mail a@b.com now"),
        (1, "see https://ex.co/a@b.com?x=1 ok"),
        (2, "call +1 (555) 000-1234 today"),
        (3, "plain text stays untouched"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["red"] for r in df.select(
        "doc_id", pii_redact(df.text).alias("red")).collect()}
    assert got[0] == "mail <EMAIL> now"
    assert got[1] == "see <URL> ok"
    assert got[2] == "call <PHONE> today"
    assert got[3] == "plain text stays untouched"
