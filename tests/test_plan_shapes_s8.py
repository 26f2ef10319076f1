"""Plan-shape pins for the round-5 session-8 operators: the scale
claims in their docstrings asserted on the physical plan at sf0.001 —
zero row-at-a-time Python anywhere, broadcasts where promised, no
cartesian products outside the declared bounded dims."""

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
        "track_diameter", "join_counts", "ransac_lines", "line_raster",
    ):
        p = _plan(entry.queries()[name](spark, SF))
        assert "BatchEvalPython" not in p, name
        assert "ArrowEvalPython" not in p, name  # pure codegen promised


def test_join_counts_broadcasts_lattice_dims(spark, entry):
    # flags broadcast onto the generated edges; never a sort-merge join
    p = _plan(entry.queries()["join_counts"](spark, SF))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_ransac_broadcasts_candidate_dim(spark, entry):
    # scoring = point scan x broadcast 32-row candidate dim (a broadcast
    # nested-loop, NOT a partitioned cartesian product)
    p = _plan(entry.queries()["ransac_lines"](spark, SF))
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_track_diameter_no_cartesian(spark, entry):
    # the pair self-join is a keyed equi-join on u, never a cartesian
    p = _plan(entry.queries()["track_diameter"](spark, SF))
    assert "CartesianProduct" not in p


def test_dp_family_single_arrow_kernel(spark, entry):
    # viterbi runs exactly one Arrow batch kernel (the DP), no
    # row-at-a-time Python
    for name, n_arrow in (("viterbi_match", 1),):
        p = _plan(entry.queries()[name](spark, SF))
        assert p.count("ArrowEvalPython") == n_arrow, name
        assert "BatchEvalPython" not in p, name
