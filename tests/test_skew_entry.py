"""Entry-contract smoke (entry/queries wiring)."""


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {
        "event_id", "plot_id", "matched_via", "centroid_lat", "centroid_lon"
    }
    qs = e.queries()
    oracles = e.oracle_sql()
    assert set(oracles) <= set(qs)  # every oracle has a query
    assert len(qs) >= 30


def test_registry_tier_ordering():
    # The driver's correctness harness checks a PREFIX of queries() in
    # dict order (CORRECTNESS_r03 was exactly the first 50 entries), so
    # the ordering is LOAD-BEARING: every oracle-backed query must come
    # before every rows-only twin. Regression guard for the round-3
    # verdict's item 2.
    import __spark_entry__ as e

    keys = list(e.queries())
    oracles = set(e.oracle_sql())
    rows_only = [k for k in keys if k not in oracles]
    n = len(rows_only)
    assert keys[-n:] == rows_only, (
        "rows-only queries must occupy the final registry positions"
    )
    assert all(k in oracles for k in keys[:-n])


def test_registry_keys_unique_in_source():
    # Python dict literals silently keep the LAST duplicate key, so a
    # name collision between two sessions' queries would shadow the older
    # operator without any failure (caught live in round 4: a second
    # "mad_outliers" briefly replaced the per-type original). Scan the
    # source for duplicate string keys inside the queries() and
    # oracle_sql() return literals.
    import re

    sources = {
        "queries": open("__spark_entry__.py").read(),
        # oracle_sql moved to the oracles package (VERDICT r4 item 7)
        "oracle_sql": open("oracles/__init__.py").read(),
    }

    def dup_keys(fn_name):
        src = sources[fn_name]
        # queries() now builds the literal as ``out = {...}`` (r6: the
        # coalesced-materialization wrap is applied before returning)
        m = re.search(
            rf"def {fn_name}\(\).*?(?:return|out =) \{{(.*?)\n    \}}", src, re.S
        )
        assert m, f"could not locate {fn_name} return dict"
        keys = re.findall(r'^\s+"([a-z0-9_]+)":', m.group(1), re.M)
        seen, dups = set(), []
        for k in keys:
            if k in seen:
                dups.append(k)
            seen.add(k)
        return dups

    assert dup_keys("queries") == []
    assert dup_keys("oracle_sql") == []
