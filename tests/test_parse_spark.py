"""Synth -> parse -> footprint plan: invariants and parity gates (SURVEY §3 E1)."""

import numpy as np
import pytest

from extractors_metadata_spark.functions.textmeta import extract_text
from extractors_metadata_spark.plans.parse import parse_metadata, with_footprint_cells
from extractors_metadata_spark.synth import synth_webpages

N = 800


@pytest.fixture(scope="module")
def pages(spark):
    df = synth_webpages(spark, N).cache()
    df.count()
    return df


def test_synth_deterministic(spark, pages):
    a = pages.orderBy("url").limit(20).collect()
    b = synth_webpages(spark, N).orderBy("url").limit(20).collect()
    assert a == b


def test_byte_identical_text_invariant(pages):
    """BASELINE.json input_hint: byte-identical extracted text per url."""
    for row in pages.sample(0.2, seed=1).collect():
        assert extract_text(bytes(row.html)) == row.text


def test_presence_gate_fraction(spark, pages):
    parsed = parse_metadata(pages)
    frac = parsed.count() / N
    assert 0.6 < frac < 0.8  # ~70% of pages carry the metadata block


def test_parse_types_and_ranges(spark, pages):
    parsed = parse_metadata(pages).cache()
    rows = parsed.collect()
    for r in rows:
        assert r.sensor in {"PS2 System", "VNIR", "Thermal IR", "stereoTop", "Scanner3D"}
        assert r.date == "2016-05-07"
        assert r.scan_time is not None
        assert r.pos_x is not None and r.pos_y is not None
    # missing-section path: some rows must have null cambox (FIXTURES: ~5%)
    n_null = sum(1 for r in rows if r.cambox_x is None)
    assert 0 < n_null < 0.15 * len(rows)
    # sitename shortcut path present (~2%)
    assert 0 < sum(1 for r in rows if r.sitename is not None) < 0.1 * len(rows)


def test_typo_key_cleaning(spark):
    """F16: 'Camnera' typo and case drift must not break key lookups."""
    import pandas as pd

    html = (
        '<html><body><script type="application/json" id="lemnatec">'
        '{"lemnatec_measurement_metadata": {"gantry_system_variable_metadata": '
        '{"Time": "05/07/2016 15:58:43", "Position x [m]": "203.6", '
        '"Position y [m]": "2.499", "Position z [m]": "0", '
        '"Camnera box light 1 is on": "False"}, '
        '"sensor_fixed_metadata": {"location in camera box X [m]": "0.827", '
        '"location in camera box Y [m]": "0.710", "field of view X [m]": "2.673", '
        '"field of view Y [m]": "1.647"}}, '
        '"dataset_name": "PS2 System - 2016-05-07__15-58-43-000"}'
        "</script></body></html>"
    ).encode()
    pdf = pd.DataFrame(
        {"url": ["u1"], "warc_ts": [pd.Timestamp("2016-05-07")], "html": [html],
         "text": [""], "lang": ["en"]}
    )
    df = spark.createDataFrame(pdf)
    parsed = parse_metadata(df).collect()[0]
    assert parsed.pos_x == 203.6
    assert parsed.cambox_x == 0.827
    assert parsed.fov_y == 1.647
    assert parsed.sensor == "PS2 System"
    assert str(parsed.scan_time) == "2016-05-07 15:58:43"


def test_multi_line_metadata_block_parses_like_one_line(spark):
    """A pretty-printed metadata block (the reference's own test.json is
    multi-line) parses to the same row as the one-line block, with '\n' and
    '\r\n' line endings alike."""
    import json

    import pandas as pd

    md = {
        "lemnatec_measurement_metadata": {
            "gantry_system_variable_metadata": {
                "Time": "05/07/2016 15:58:43", "Position x [m]": "203.6",
                "Position y [m]": "2.499", "Position z [m]": "0",
            },
            "sensor_fixed_metadata": {
                "location in camera box X [m]": "0.827",
                "location in camera box Y [m]": "0.710",
                "field of view X [m]": "2.673", "field of view Y [m]": "1.647",
            },
        },
        "dataset_name": "PS2 System - 2016-05-07__15-58-43-000",
    }
    pretty = json.dumps(md, indent=2)
    blocks = {
        "one_line": json.dumps(md),
        "lf": pretty,
        "crlf": pretty.replace("\n", "\r\n"),
    }
    pdf = pd.DataFrame({
        "url": list(blocks),
        "warc_ts": [pd.Timestamp("2016-05-07")] * len(blocks),
        "html": [
            ('<html><body><script type="application/json" id="lemnatec">'
             f"{b}</script></body></html>").encode()
            for b in blocks.values()
        ],
        "text": [""] * len(blocks),
        "lang": ["en"] * len(blocks),
    })
    rows = {
        r.url: {k: v for k, v in r.asDict().items() if k != "url"}
        for r in parse_metadata(spark.createDataFrame(pdf)).collect()
    }
    assert sorted(rows) == sorted(blocks)
    assert rows["one_line"]["pos_x"] == 203.6
    assert rows["lf"] == rows["one_line"]
    assert rows["crlf"] == rows["one_line"]


def test_footprint_matches_kernel(spark, pages):
    from extractors_metadata_spark.functions.textmeta import footprint_from_metadata

    fp = with_footprint_cells(parse_metadata(pages)).limit(50).collect()
    for r in fp:
        c_lat, c_lon, ring = footprint_from_metadata(
            np.array([r.pos_x]), np.array([r.pos_y]),
            np.array([r.cambox_x or 0.0]), np.array([r.cambox_y or 0.0]),
            np.array([r.fov_x or 0.0]), np.array([r.fov_y or 0.0]),
        )
        assert r.centroid_lat == pytest.approx(float(c_lat[0]), abs=1e-12)
        assert r.centroid_lon == pytest.approx(float(c_lon[0]), abs=1e-12)
        assert r.min_lat <= r.centroid_lat <= r.max_lat
        assert r.min_lon <= r.centroid_lon <= r.max_lon


def test_cells_match_kernel(spark, pages):
    from extractors_metadata_spark.functions import hexgrid, s2quad

    df = with_footprint_cells(parse_metadata(pages)).limit(50).collect()
    for r in df:
        assert r.cell_r9 == int(
            hexgrid.h3_encode(np.array([r.centroid_lat]), np.array([r.centroid_lon]), 9)[0]
        )
        assert r.cell_r13 == int(
            hexgrid.h3_encode(np.array([r.centroid_lat]), np.array([r.centroid_lon]), 13)[0]
        )
        assert r.s2_cell == int(
            s2quad.s2_encode(np.array([r.centroid_lat]), np.array([r.centroid_lon]), 16)[0]
        )
