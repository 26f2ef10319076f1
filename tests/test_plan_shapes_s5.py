"""Plan-shape pins for the round-5 session-5 operators: the scale claims
in their docstrings (zero-shuffle codegen where promised, no cartesian
products, Arrow passes only where declared, bounded join shapes) asserted
on the physical plan at sf0.001 — the COVERAGE.md 100 TB arguments as
executable checks."""

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
    # promised zero-Python plans: literal/integer/window arithmetic only
    for name in ("window_ranks", "ripley_per_user", "z_range_plan"):
        p = _plan(entry.queries()[name](spark, SF))
        assert "BatchEvalPython" not in p, name
        assert "ArrowEvalPython" not in p, name


def test_raster_queries_single_declared_arrow_pass(spark, entry):
    # the z22 registry queries share the _z22_counts front end (ONE
    # Arrow footprint pass, scope-cached so their two-reference plans
    # reuse it via InMemoryTableScan instead of recomputing); the
    # operators themselves add zero row-at-a-time Python
    for name in ("semivariogram", "tile_median"):
        p = _plan(entry.queries()[name](spark, SF))
        # every counts reference reads the scoped cache (the Arrow nodes
        # visible in the dump live INSIDE the InMemoryRelation and fill
        # the cache once)
        assert "InMemoryTableScan" in p, name
        assert "BatchEvalPython" not in p, name


def test_no_cartesian_anywhere_in_batch(spark, entry):
    for name in ("semivariogram", "hausdorff_pairs", "z_range_plan",
                 "ripley_per_user"):
        p = _plan(entry.queries()[name](spark, SF))
        assert "CartesianProduct" not in p, name

