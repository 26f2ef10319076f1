"""Plan-shape pins for the round-5 session-5 operators: the scale claims
in their docstrings (zero-shuffle codegen where promised, no cartesian
products, Arrow passes only where declared, TakeOrdered instead of
global sorts) asserted on the physical plan at sf0.001 — the COVERAGE.md
100 TB arguments as executable checks."""

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
    for name in ("blocklist_hits", "robots_filter", "outlinks", "host_graph",
                 "window_ranks", "ripley_per_user", "z_range_plan"):
        p = _plan(entry.queries()[name](spark, SF))
        assert "BatchEvalPython" not in p, name
        assert "ArrowEvalPython" not in p, name


def test_raster_queries_single_declared_arrow_pass(spark, entry):
    # the raster registry queries share the _z22_counts front end (ONE
    # Arrow footprint pass, scope-cached so multi-reference plans reuse
    # it via InMemoryTableScan instead of recomputing); the operators
    # themselves add zero Python
    p = _plan(entry.queries()["slope_aspect"](spark, SF))
    assert p.count("ArrowEvalPython") == 1  # z12 path, single reference
    assert "BatchEvalPython" not in p
    for name in ("semivariogram", "viewshed", "tile_blobs", "d8_flow",
                 "watershed"):
        p = _plan(entry.queries()[name](spark, SF))
        # every counts reference reads the scoped cache (the Arrow nodes
        # visible in the dump live INSIDE the InMemoryRelation and fill
        # the cache once) — and no row-at-a-time Python anywhere.
        # watershed's FINAL plan reads only its localCheckpointed pointer
        # frames (the cache was consumed during the eager doubling rounds),
        # so the IMTS assertion does not apply to it.
        if name != "watershed":
            assert "InMemoryTableScan" in p, name
        assert "BatchEvalPython" not in p, name


def test_zero_shuffle_screens(spark, entry):
    # blocklist_hits and robots_filter promise ONE projection over ONE
    # scan — no Exchange at all
    for name in ("blocklist_hits", "robots_filter"):
        p = _plan(entry.queries()[name](spark, SF))
        assert "Exchange" not in p, name


def test_no_cartesian_anywhere_in_batch(spark, entry):
    for name in ("d8_flow", "watershed", "tile_blobs", "semivariogram",
                 "viewshed", "hausdorff_pairs", "dsir_select", "adamic_adar",
                 "z_range_plan", "textrank", "ripley_per_user"):
        p = _plan(entry.queries()[name](spark, SF))
        assert "CartesianProduct" not in p, name


def test_topk_cuts_are_take_ordered(spark, entry):
    # dsir_select / adamic_adar promise TakeOrderedAndProject, never a
    # global Sort+Limit
    for name in ("dsir_select", "adamic_adar"):
        p = _plan(entry.queries()[name](spark, SF))
        assert "TakeOrderedAndProject" in p, name


def test_declared_arrow_passes_only(spark, entry):
    # dsir_select: the ln fixed point runs on the B-row bucket dim —
    # Arrow appears, but never row-at-a-time Python
    p = _plan(entry.queries()["dsir_select"](spark, SF))
    assert "BatchEvalPython" not in p
    # adamic_adar: one Arrow pass on the degree dim
    p = _plan(entry.queries()["adamic_adar"](spark, SF))
    assert "BatchEvalPython" not in p


def test_viewshed_join_shape(spark, entry):
    # viewshed: elevations via ONE grid-keyed hash join; the only
    # nested-loop joins are the two broadcasts of the 1-row observer
    # frame (tgt + blocker exclusion) — both build sides are single-row
    p = _plan(entry.queries()["viewshed"](spark, SF))
    assert p.count("BroadcastNestedLoopJoin") <= 2
    assert p.count("BroadcastHashJoin") >= 1
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p
