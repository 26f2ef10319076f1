"""Ingest-gate pin: the frozen first-match precedence (robots beats
encoding beats blocklist) on documents engineered to fail several
screens at once."""

from __future__ import annotations

import importlib.util
import os


def _entry():
    spec = importlib.util.spec_from_file_location(
        "entry_ig",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "__spark_entry__.py"),
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def test_ingest_gate_first_match_precedence(spark, tmp_path):
    m = _entry()
    # doc 1xx ids hit the '/d1' deny rule; 'slow query' trips the
    # blocklist; doc 110 fails BOTH -> robots wins; doc 55 fails only
    # the blocklist; doc 77 (clean text, id 77 matches only '/d' allow,
    # and 77 % 11 != 0 so no encoding probe) is admitted
    # ids 58/61 are coprime to the 11/13/17 encoding-probe moduli;
    # id 110 trips BOTH robots ('/d1' deny) and the encoding probe
    # (110 % 11 == 0) — robots must win by first-match
    rows = [
        (110, "slow query text here", "en", "src0", 20),
        (58, "slow query text here", "en", "src0", 20),
        (61, "plain clean words here", "en", "src0", 22),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {
        r["doc_id"]: r["reason"]
        for r in m.queries()["ingest_gate"](spark, str(tmp_path)).collect()
    }
    assert out == {110: "not_crawlable", 58: "blocklisted", 61: "admitted"}
