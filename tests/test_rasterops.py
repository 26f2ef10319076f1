"""Hand-golden shapes for the raster morphology / RLE operators."""


def _counts(spark, cells):
    return spark.createDataFrame(
        [(x, y, c) for x, y, c in cells], "x long, y long, cnt long"
    )


def test_morph_close_fills_one_cell_gap(spark):
    """Two cells with a 1-cell gap on a row: dilation bridges, erosion
    keeps the bridge column -> the gap cell appears with occupied=0."""
    from extractors_metadata_spark.operators.rasterops import morph_close

    # vertical 3-cell bars at x=10 and x=12, gap column x=11
    cells = [(x, y, 1) for x in (10, 12) for y in (5, 6, 7)]
    out = morph_close(_counts(spark, cells), z=10).collect()
    got = {(r["x"], r["y"]): (r["occupied"], r["cnt"]) for r in out}
    assert got[(11, 6)] == (0, 0)  # the bridged gap center
    assert got[(10, 6)] == (1, 1)  # originals survive with their mass
    assert all(v == (1, 1) for k, v in got.items() if k[0] in (10, 12))


def test_morph_close_isolated_cell_survives(spark):
    """Closing is extensive: a lone cell dilates to a 3x3 whose center
    erodes back -> exactly the original cell, occupied=1."""
    from extractors_metadata_spark.operators.rasterops import morph_close

    out = morph_close(_counts(spark, [(100, 100, 7)]), z=10).collect()
    assert [(r["x"], r["y"], r["occupied"], r["cnt"]) for r in out] == [
        (100, 100, 1, 7)
    ]


def test_erosion_depth_block_center(spark):
    """A full 5x5 block: center has rings 1-2 complete -> depth 3;
    edge-adjacent interior cells have ring 1 complete only -> depth 2;
    border cells have incomplete ring 1 -> depth 1."""
    from extractors_metadata_spark.operators.rasterops import erosion_depth

    cells = [(x, y, 1) for x in range(10, 15) for y in range(20, 25)]
    out = erosion_depth(_counts(spark, cells), z=10, max_r=3).collect()
    got = {(r["x"], r["y"]): r["depth"] for r in out}
    assert got[(12, 22)] == 3
    assert got[(11, 21)] == 2
    assert got[(10, 20)] == 1
    assert sum(1 for d in got.values() if d == 3) == 1
    assert sum(1 for d in got.values() if d == 2) == 8
    assert sum(1 for d in got.values() if d == 1) == 16


def test_erosion_depth_cap(spark):
    """A 9x9 block's center survives 3 complete rings -> capped 4."""
    from extractors_metadata_spark.operators.rasterops import erosion_depth

    cells = [(x, y, 1) for x in range(9) for y in range(9)]
    out = erosion_depth(_counts(spark, cells), z=10, max_r=3).collect()
    got = {(r["x"], r["y"]): r["depth"] for r in out}
    assert got[(4, 4)] == 4


def test_rle_runs_split_and_mass(spark):
    """Row 3: x in {1,2,3, 7, 9,10} -> three runs (1,3), (7,1), (9,2)
    with masses summed per run; rows are independent."""
    from extractors_metadata_spark.operators.rasterops import rle_runs

    cells = [(1, 3, 2), (2, 3, 3), (3, 3, 4), (7, 3, 5), (9, 3, 1),
             (10, 3, 1), (1, 4, 9)]
    out = rle_runs(_counts(spark, cells), z=10)
    got = sorted(
        (r["y"], r["x_start"], r["run_len"], r["mass"]) for r in out.collect()
    )
    assert got == [(3, 1, 3, 9), (3, 7, 1, 5), (3, 9, 2, 2), (4, 1, 1, 9)]


def test_voronoi_alloc_nearest_and_ties(spark):
    """Two seeds (densest cells); a cell equidistant between them takes
    the lexicographically smaller seed; wrap distance is honored."""
    from extractors_metadata_spark.operators.rasterops import voronoi_alloc

    cells = [(0, 5, 9), (10, 5, 9), (5, 5, 1), (1023, 5, 1)]
    out = voronoi_alloc(
        _counts(spark, cells), z=10, n_seeds=2
    ).collect()
    got = {(r["x"], r["y"]): (r["seed_x"], r["seed_y"], r["d2"]) for r in out}
    assert got[(0, 5)] == (0, 5, 0)
    assert got[(10, 5)] == (10, 5, 0)
    assert got[(5, 5)] == (0, 5, 25)       # tie 25/25 -> smaller seed
    assert got[(1023, 5)] == (0, 5, 1)     # wrap: 1024-1023 = 1
