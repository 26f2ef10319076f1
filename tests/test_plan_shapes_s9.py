"""Plan-shape pins for the round-5 session-9 operators: the scale
claims in their docstrings asserted on the physical plan at sf0.001 —
zero row-at-a-time Python anywhere, broadcasts where promised, no
cartesian products outside the declared bounded dims, the single Arrow
kernel promises of the smoothing/alignment ops."""

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


def test_no_row_at_a_time_python_anywhere(spark, entry):
    for name in (
        "kaplan_meier", "colocation_pi", "huff_model", "hodges_lehmann",
    ):
        p = _plan(entry.queries()[name](spark, SF))
        assert "BatchEvalPython" not in p, name


def test_pure_codegen_ops_have_no_arrow(spark, entry):
    # HL promises zero Python of any kind
    for name in ("hodges_lehmann",):
        p = _plan(entry.queries()[name](spark, SF))
        assert "ArrowEvalPython" not in p, name


def test_single_arrow_kernel_ops(spark, entry):
    # one fused Arrow pass each: the KM log terms
    for name in ("kaplan_meier",):
        p = _plan(entry.queries()[name](spark, SF))
        assert p.count("ArrowEvalPython") + p.count("MapInPandas") == 1, name


def test_colocation_no_cartesian_no_smj_on_pairs(spark, entry):
    # the pair generator is the cell-bucketed radius join; feature joins
    # are keyed; totals broadcast — nothing cartesian
    p = _plan(entry.queries()["colocation_pi"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_kaplan_meier_windows_on_dim_only(spark, entry):
    # exactly three single-partition exchanges, ALL on bounded frames:
    # the 1-row global-max-day agg, the desc n_risk window and the asc
    # running-log window — both windows run AFTER the duration rollup
    # (distinct-duration dim, <= the observation window in bins); the
    # subject agg itself stays hash-partitioned
    p = _plan(entry.queries()["kaplan_meier"](spark, SF))
    assert p.count("Exchange SinglePartition") == 3
    assert "hashpartitioning(subj" in p
