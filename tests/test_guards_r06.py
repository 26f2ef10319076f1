"""Regression pins for the r6 ADVICE guards (no Spark needed)."""

import pytest


def test_build_automaton_rejects_empty_pattern():
    from extractors_metadata_spark.operators.ahocorasick import build_automaton

    with pytest.raises(ValueError, match="empty-string pattern"):
        build_automaton(["ab", ""])
