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
        "morph_close", "erosion_depth", "raster_rle", "voronoi_alloc",
        "stem_vocab", "isotonic_fit", "kaplan_meier", "changepoint_split",
        "holt_forecast", "colocation_pi", "huff_model", "swalign_pairs",
        "modularity", "rich_club", "theil_decomp", "runs_test",
        "hodges_lehmann",
    ):
        p = _plan(entry.queries()[name](spark, SF))
        assert "BatchEvalPython" not in p, name


def test_pure_codegen_ops_have_no_arrow(spark, entry):
    # stemmer / isotonic / changepoint / modularity / rich_club promise
    # zero Python of any kind
    for name in (
        "stem_vocab", "isotonic_fit", "changepoint_split", "modularity",
        "rich_club", "runs_test", "hodges_lehmann",
    ):
        p = _plan(entry.queries()[name](spark, SF))
        assert "ArrowEvalPython" not in p, name


def test_raster_ops_add_no_python_beyond_front_end(spark, entry):
    # the ONLY Arrow kernels in the raster plans are references to the
    # shared z22 tile-footprint front end (one per counts-lineage
    # occurrence — anonymous `_f`); the morphology/RLE/voronoi operators
    # themselves are pure codegen. Exact counts pin the lineage shape:
    # rle references counts once, voronoi twice (cells + seed collect
    # runs separately), morph/erosion three times (cells + dil +
    # support / cells + scatter + nb).
    for name, n_arrow in (
        ("raster_rle", 1), ("voronoi_alloc", 2),
        ("morph_close", 3), ("erosion_depth", 3),
    ):
        p = _plan(entry.queries()[name](spark, SF))
        assert p.count("ArrowEvalPython") == n_arrow, name


def test_single_arrow_kernel_ops(spark, entry):
    # one fused Arrow pass each: the Holt recurrence, the SW lattice,
    # the KM log terms
    for name in ("holt_forecast", "swalign_pairs", "kaplan_meier"):
        p = _plan(entry.queries()[name](spark, SF))
        assert p.count("ArrowEvalPython") + p.count("MapInPandas") == 1, name


def test_voronoi_broadcasts_seed_dim(spark, entry):
    # allocation = occupied scan x broadcast 12-row seed dim; the
    # crossJoin must be a broadcast nested loop, never partitioned
    p = _plan(entry.queries()["voronoi_alloc"](spark, SF))
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_colocation_no_cartesian_no_smj_on_pairs(spark, entry):
    # the pair generator is the cell-bucketed radius join; feature joins
    # are keyed; totals broadcast — nothing cartesian
    p = _plan(entry.queries()["colocation_pi"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p


def test_rasterops_scatter_joins_are_hash_joins(spark, entry):
    # morphology support/ring counts are grid-keyed equi-joins (shuffle
    # hash or SMJ on (x, y)) — never a nested loop over the raster
    for name in ("morph_close", "erosion_depth"):
        p = _plan(entry.queries()[name](spark, SF))
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "CartesianProduct" not in p, name


def test_trend_family_single_exchange_per_key_stage(spark, entry):
    # isotonic: the pair fan-out + suffix-min + argmax all run on the
    # user-key partitioning; no single-partition global exchange
    p = _plan(entry.queries()["isotonic_fit"](spark, SF))
    assert "Exchange SinglePartition" not in p


def test_kaplan_meier_windows_on_dim_only(spark, entry):
    # exactly three single-partition exchanges, ALL on bounded frames:
    # the 1-row global-max-day agg, the desc n_risk window and the asc
    # running-log window — both windows run AFTER the duration rollup
    # (distinct-duration dim, <= the observation window in bins); the
    # subject agg itself stays hash-partitioned
    p = _plan(entry.queries()["kaplan_meier"](spark, SF))
    assert p.count("Exchange SinglePartition") == 3
    assert "hashpartitioning(subj" in p
