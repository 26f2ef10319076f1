"""Registry-metadata invariants (no Spark session needed).

Pins the contract between ``queries()`` and ``oracle_sql()`` in
``__spark_entry__.py`` so it cannot silently rot as the registry grows:

1. every entry in the driver's 50-query correctness window (the FIRST 50
   entries of ``queries()``) has a full oracle;
2. the rows-only entries (production hash families: xxhash64/PCG64/
   approximate kernels with no exact SQL replay) are exactly the FINAL
   entries, each naming an existing full-oracle twin in its docstring
   via an ``Oracle twin: <name>`` line;
3. every oracle key corresponds to a registered query (no orphan SQL).
"""

import re

import __spark_entry__ as entry

EXPECTED_ROWS_ONLY = {
    "pipeline_datapoints": "pipeline_envelope_verify",
    "dedup_fingerprint": "fingerprint_verify",
    "minhash_pairs": "minhash_verify",
    "near_dedup_survivors": "near_dedup_minhash_verify",
    "simhash": "simhash_verify",
    "embed_near_pairs": "srp_pairs_verify",
    "multi_render": "multi_render_verify",
}


def test_window_is_fully_oracle_backed():
    qs = list(entry.queries())
    oracles = entry.oracle_sql()
    window = qs[:50]
    missing = [q for q in window if q not in oracles]
    assert missing == [], f"driver window entries without oracle: {missing}"


def test_rows_only_set_is_the_final_twinned_entries():
    qs = entry.queries()
    oracles = entry.oracle_sql()
    rows_only = [k for k in qs if k not in oracles]
    assert set(rows_only) == set(EXPECTED_ROWS_ONLY), (
        "rows-only set changed — every new rows-only entry needs a "
        f"full-oracle twin registered here: {sorted(set(rows_only) ^ set(EXPECTED_ROWS_ONLY))}"
    )
    assert list(qs)[-len(EXPECTED_ROWS_ONLY):] == rows_only, (
        "rows-only entries must stay in the final registry positions "
        "(the driver's 50-slot window must only see full-oracle queries)"
    )


def test_each_rows_only_docstring_names_a_live_full_oracle_twin():
    qs = entry.queries()
    oracles = entry.oracle_sql()
    for name, twin in EXPECTED_ROWS_ONLY.items():
        doc = qs[name].__doc__ or ""
        m = re.search(r"Oracle twin:\s*([a-z0-9_]+)", doc)
        assert m, f"{name}: docstring lacks an 'Oracle twin: <name>' line"
        assert m.group(1) == twin, f"{name}: docstring twin {m.group(1)!r} != {twin!r}"
        assert twin in qs, f"{name}: twin {twin} not registered in queries()"
        assert twin in oracles, f"{name}: twin {twin} has no oracle_sql entry"


def test_no_orphan_oracle_sql():
    qs = entry.queries()
    orphans = [k for k in entry.oracle_sql() if k not in qs]
    assert orphans == [], f"oracle_sql keys without a registered query: {orphans}"
