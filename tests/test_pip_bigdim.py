"""Distributed-dim PIP (operators/pip_bigdim.py): regime parity with the
broadcast path and the shuffle plan shape."""

from __future__ import annotations

import numpy as np
import pandas as pd


def _polys_df(spark):
    from extractors_metadata_spark.synth import plot_rings

    pdf = plot_rings().copy()
    pdf["ring"] = [
        [[float(v[0]), float(v[1])] for v in np.asarray(r)] for r in pdf["ring"]
    ]
    return spark.createDataFrame(pdf[["plot_id", "ring"]]), plot_rings()


def test_bigdim_matches_broadcast_path(spark):
    from extractors_metadata_spark.operators.pip_bigdim import pip_join_bigdim
    from extractors_metadata_spark.operators.pip_knn import pip_join

    polys, pdf = _polys_df(spark)
    rng = np.random.default_rng(5)
    n = 400
    pts_pdf = pd.DataFrame(
        {
            "url": [f"u{i}" for i in range(n)],
            # spread past the grid edges so misses are exercised too
            "centroid_lat": 33.0745 + rng.uniform(-3e-4, 0.0023, n),
            "centroid_lon": -111.9750833333 + rng.uniform(-2e-4, 0.001, n),
        }
    )
    # plus exact corner/boundary points (Touches => min plot id)
    pts_pdf.loc[0, ["centroid_lat", "centroid_lon"]] = (
        33.0745 + 0.0000365, -111.9750833333 + 0.00005,
    )
    pts = spark.createDataFrame(pts_pdf)
    a = {
        (r["url"], r["plot_id"])
        for r in pip_join(spark, pts, pdf).collect()
    }
    b = {
        (r["url"], r["plot_id"])
        for r in pip_join_bigdim(spark, pts, polys, point_id="url").collect()
    }
    assert a == b and len(a) > 100
    assert ("u0", "1-1") in b  # corner tie-break: min plot_id


def test_bigdim_candidate_join_is_not_broadcast(spark):
    """The point of the regime: the static plan must shuffle BOTH sides on
    the cell key (ShuffledHashJoin per the hint), never plan a driver-side
    broadcast of the polygon covering."""
    from extractors_metadata_spark.operators.pip_bigdim import pip_join_bigdim

    polys, _ = _polys_df(spark)
    pts = spark.createDataFrame(
        pd.DataFrame(
            {"url": ["a"], "centroid_lat": [33.0746], "centroid_lon": [-111.9749]}
        )
    )
    out = pip_join_bigdim(spark, pts, polys, point_id="url")
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "ShuffledHashJoin" in plan
