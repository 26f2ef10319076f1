"""Plan-shape pins for the session-4 operators: the scale claims in their
docstrings (no cartesian, pure codegen where promised, broadcast dims)
asserted on the physical plan at sf0.001 — the COVERAGE.md 100 TB arguments
as executable checks."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def entry():
    import __spark_entry__ as e

    class _Unwrapped:
        """Plan-shape tests must see the OPERATOR plan, not the
        InMemoryTableScan of the r6 coalesced-materialization wrap —
        unwrap registry entries back to their builders."""

        def queries(self):
            return {
                k: getattr(f, "__wrapped__", f)
                for k, f in e.queries().items()
            }

        def __getattr__(self, a):
            return getattr(e, a)

    return _Unwrapped()


def test_pure_codegen_queries_have_no_python(spark, entry):
    # promised zero-Python plans: integer/window arithmetic only
    for name in ("twap", "emd_drift", "user_mad", "sax_words",
                 "locf_resample", "attribution", "haar2d", "ccf_lags",
                 "line_density"):
        p = _plan(entry.queries()[name](spark, SF))
        assert "BatchEvalPython" not in p, name      # no row-at-a-time Python
        assert "ArrowEvalPython" not in p, name      # no pandas UDF at all


def test_no_cartesian_anywhere_in_batch(spark, entry):
    for name in ("quadtree", "contact_crossings",
                 "attribution", "knox_test", "getis_ord",
                 "line_density", "ccf_lags"):
        p = _plan(entry.queries()[name](spark, SF))
        assert "CartesianProduct" not in p, name


def test_quadtree_broadcasts_level_counts(spark, entry):
    p = _plan(entry.queries()["quadtree"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
