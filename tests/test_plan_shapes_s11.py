"""Plan-shape pins for the round-5 session-11 operators: zero
row-at-a-time Python anywhere, pure-codegen ops carry no Arrow, the
Arrow-kernel ops carry exactly one fused kernel, and the group-pandas
ops are one FlatMapGroupsInPandas pass."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"

S11_QUERIES = (
    "cochran_q", "mcnemar", "kruskal_wallis", "durbin_watson",
    "spatial_keyword", "toponym_resolve", "seasonal_decompose",
    "vw_simplify", "interval_schedule",
    "cochran_armitage", "gale_shapley",
    "seasonal_mk", "boruvka_emst",
    "knapsack_pack", "radiation_model", "privacy_audit",
    "basket_lift", "debruijn_euler", "hash_ring", "sd_ellipse",
    "hhi_concentration", "type_tile_affinity",
    "kdtree_split", "interval_depth", "max_drawdown",
    "hist_equalize", "quantile_map", "jonckheere", "min_circle",
    "page_trend", "mood_median", "ansari_bradley", "schnabel",
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
    for name in S11_QUERIES:
        p = _plan(entry.queries()[name](spark, SF))
        assert "BatchEvalPython" not in p, name


def test_pure_codegen_ops_have_no_python(spark, entry):
    # window/agg/join chains only — zero Python of any kind
    for name in (
        "cochran_q", "mcnemar", "kruskal_wallis", "durbin_watson",
        "cochran_armitage", "seasonal_decompose", "seasonal_mk",
        "radiation_model", "privacy_audit",
        "basket_lift", "debruijn_euler", "hash_ring", "sd_ellipse",
        "hhi_concentration", "type_tile_affinity", "kdtree_split",
        "interval_depth", "max_drawdown",
        "hist_equalize", "quantile_map", "jonckheere", "page_trend",
        "mood_median", "ansari_bradley", "schnabel",
    ):
        p = _plan(entry.queries()[name](spark, SF))
        assert "ArrowEvalPython" not in p, name
        assert "FlatMapGroupsInPandas" not in p, name


def test_arrow_ops_carry_exactly_one_kernel(spark, entry):
    # one fused Arrow pass each
    for name in ("spatial_keyword", "toponym_resolve"):
        p = _plan(entry.queries()[name](spark, SF))
        assert p.count("ArrowEvalPython") == 1, name
        assert "FlatMapGroupsInPandas" not in p, name


def test_group_pandas_ops_are_one_pass(spark, entry):
    for name in (
        "vw_simplify", "interval_schedule", "gale_shapley",
        "knapsack_pack", "min_circle",
    ):
        p = _plan(entry.queries()[name](spark, SF))
        assert p.count("FlatMapGroupsInPandas") == 1, name
        assert "ArrowEvalPython" not in p, name
