"""Plan-shape pins for the round-5 session-10 operators: the scale
claims in their docstrings asserted on the physical plan at sf0.001 —
zero row-at-a-time Python anywhere, pure-codegen ops carry no Arrow at
all, the Arrow-kernel ops carry exactly their promised kernels, and no
cartesian products outside declared bounded dims."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"

S10_QUERIES = (
    "allen_census", "ridge_fit", "huffman_cost", "luhn_validate",
    "harmonic_centrality", "calibration_bins", "ntt_autocorr",
    "cramer_von_mises", "matrix_profile", "salt_plan", "burst_detect",
)


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


def test_no_row_at_a_time_python_anywhere(spark, entry):
    for name in S10_QUERIES:
        p = _plan(entry.queries()[name](spark, SF))
        assert "BatchEvalPython" not in p, name


def test_pure_codegen_ops_have_no_arrow(spark, entry):
    # these promise zero Python of any kind: the checksum chain is JVM
    # codegen, the stats are window+agg, the census and ridge are
    # joins/aggs
    for name in (
        "allen_census", "ridge_fit", "luhn_validate", "harmonic_centrality",
        "calibration_bins", "cramer_von_mises", "salt_plan",
    ):
        p = _plan(entry.queries()[name](spark, SF))
        assert "ArrowEvalPython" not in p, name
        assert "FlatMapGroupsInPandas" not in p, name


def test_arrow_ops_carry_exactly_their_kernel(spark, entry):
    # one fused Arrow pass each (the holt_forecast discipline)
    for name, marker in (
        ("ntt_autocorr", "ArrowEvalPython"),
        ("matrix_profile", "ArrowEvalPython"),
        ("burst_detect", "ArrowEvalPython"),
        ("huffman_cost", "FlatMapGroupsInPandas"),
    ):
        p = _plan(entry.queries()[name](spark, SF))
        assert p.count(marker) == 1, (name, p.count(marker))


def test_no_cartesian_outside_bounded_dims(spark, entry):
    # the zero-fill grids cross a BROADCAST bounded bin dim (32 rows) —
    # nothing else may plan a cartesian/nested-loop over data-sized frames
    for name in S10_QUERIES:
        p = _plan(entry.queries()[name](spark, SF))
        if name in ("ntt_autocorr", "matrix_profile", "burst_detect"):
            continue  # bounded broadcast NLJ documented in the docstring
        assert "CartesianProduct" not in p, name


def test_ridge_single_exchange(spark, entry):
    # ridge_fit: ONE partial-aggregating groupBy is the only Exchange
    p = _plan(entry.queries()["ridge_fit"](spark, SF))
    assert p.count("Exchange") <= 2, p.count("Exchange")  # shuffle + AQE read
