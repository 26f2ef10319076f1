"""Hand goldens for the co-location participation index."""



def _pts(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, feature string, lat double, lon double"
    )


def test_colocation_participation_counts(spark):
    """Three A's, two B's on a line 1 m apart: A0-B1 and B1-A2 within
    1.5 m, A4 and B3 isolated at +100 m -> part_a = 2 of 3, part_b = 1
    of 2, n_pairs = 2."""
    from extractors_metadata_spark.operators.colocation import colocation_pi

    deg = 1.0 / 111194.92664455873  # ~1 m of latitude
    rows = [
        (0, "A", 33.0, -111.0),
        (1, "B", 33.0 + deg, -111.0),
        (2, "A", 33.0 + 2 * deg, -111.0),
        (3, "B", 33.0 + 100 * deg, -111.0),
        (4, "A", 33.0 + 200 * deg, -111.0),
    ]
    out = colocation_pi(
        spark, _pts(spark, rows), radius_m=1.5, feature_col="feature"
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["feat_a"], r["feat_b"]) == ("A", "B")
    assert (r["n_a"], r["n_b"]) == (3, 2)
    assert (r["part_a"], r["part_b"], r["n_pairs"]) == (2, 1, 2)


def test_colocation_same_feature_pairs_excluded(spark):
    """Two A's within radius but no cross-feature neighbor -> no rows."""
    from extractors_metadata_spark.operators.colocation import colocation_pi

    deg = 1.0 / 111194.92664455873
    rows = [(0, "A", 33.0, -111.0), (1, "A", 33.0 + deg, -111.0)]
    out = colocation_pi(
        spark, _pts(spark, rows), radius_m=2.0, feature_col="feature"
    ).collect()
    assert out == []
