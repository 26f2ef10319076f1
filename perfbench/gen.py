"""Seeded inputs: web pages (``schemas.WEBPAGES``) and lookup points.

The pages follow ``synth.synth_webpages``'s HTML template, LemnaTec metadata
document and mix (70% carry a metadata block, 3% far points, 2% site
shortcut, 5% without ``sensor_fixed_metadata``), but every draw comes from a
NumPy generator keyed by ``(seed, stream)``: the same seed gives the same
bytes, and the generator records what each page should turn into, which the
output checks in ``check.py`` compare against.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from extractors_metadata_spark import synth

# stream ids keep the page and lookup-point draws independent of each other
PAGES, POINTS = 1, 2

BLOCK_SHARE = 0.70
FAR_SHARE = 0.03
SITE_SHARE = 0.02
MISSING_SECTION_SHARE = 0.05

FIELD_LAT = (synth.GRID_LAT0, synth.GRID_LAT0 + synth.N_RANGES * synth.GRID_DLAT)
FIELD_LON = (synth.GRID_LON0, synth.GRID_LON0 + synth.N_PASSES * synth.GRID_DLON)

_T0 = dt.datetime(2016, 5, 7, 15, 58, 43, tzinfo=dt.timezone.utc)

ARROW_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        # tz-aware micros: Spark reads it back as TimestampType, not NTZ
        pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
        pa.field("html", pa.binary()),
        pa.field("text", pa.string()),
        pa.field("lang", pa.string()),
    ]
)


def rng(seed: int, stream: int, part: int = 0) -> np.random.Generator:
    # SeedSequence takes non-negative entropy only
    return np.random.default_rng(np.random.SeedSequence([seed % 2**63, stream, part]))


@dataclass
class Pages:
    """One generated batch of pages plus what the engine should make of it."""

    table: pa.Table
    # url -> expected plot id for pages taking the site shortcut
    site_plot: dict[str, str] = field(default_factory=dict)
    # urls of pages carrying a metadata block: exactly these become datapoints
    datapoint_urls: set[str] = field(default_factory=set)

    @property
    def n(self) -> int:
        return self.table.num_rows


def _page(i: int, r: dict) -> tuple[str, str, str]:
    """(html, text, lang) for page id ``i`` from its row of draws ``r``."""
    s = int(r["sensor"])
    ts = _T0 + dt.timedelta(seconds=i)
    gvm = {
        "Time": ts.strftime("%m/%d/%Y %H:%M:%S"),
        "Position x [m]": "%.6f" % r["pos_x"],
        "Position y [m]": "%.6f" % r["pos_y"],
        "Position z [m]": "%.6f" % r["pos_z"],
        "Velocity x [m/s]": "0",
        "Camnera box light 1 is on": "False",  # the reference's typo, kept
    }
    lmm = {
        "user_given_metadata": {"experiment title": "Sorghum field experiment"},
        "gantry_system_variable_metadata": gvm,
    }
    if not r["missing"]:
        lmm["sensor_fixed_metadata"] = {
            "sensor manufacturer": "LemnaTec",
            "sensor product name": synth.SENSORS[s],
            "location in camera box X [m]": "%.6f" % synth.CAMBOX_X[s],
            "location in camera box Y [m]": "%.6f" % synth.CAMBOX_Y[s],
            "field of view X [m]": "%.6f" % synth.FOV_X[s],
            "field of view Y [m]": "%.6f" % synth.FOV_Y[s],
        }
    lmm["sensor_variable_metadata"] = {"current setting exposure": str(int(r["exposure"]))}
    md = {"lemnatec_measurement_metadata": lmm}
    if r["site"]:
        md["site_metadata"] = {"sitename": "Maricopa plot 42-%d" % r["site_pass"]}
    md["dataset_name"] = "%s - %s__%s-000" % (
        synth.SENSORS[s], ts.strftime("%Y-%m-%d"), ts.strftime("%H-%M-%S"),
    )
    block = (
        '<script type="application/json" id="lemnatec">'
        + json.dumps(md, separators=(",", ":"))
        + "</script>"
        if r["block"]
        else ""
    )
    qa = "ok" if r["qa"] else "flagged"
    html = synth._HTML_HEAD % (i, i) + block + synth._HTML_TAIL % (i, qa)
    # frozen extract_text of the template (checked on a sample by check.py)
    text = (
        f"Capture {i} Sensor capture {i} Gantry scan record & site logs. "
        f"Operator notes for scan {i}; QA status: {qa}."
    )
    return html, text, r["lang"]


def pages(seed: int, first_id: int, n: int, part: int = 0) -> Pages:
    """``n`` pages with ids ``first_id ..``; ``part`` selects an independent
    draw, so consecutive batches of one run never repeat a page."""
    g = rng(seed, PAGES, part)
    far = g.random(n) < FAR_SHARE
    u_x, u_y = g.random(n), g.random(n)
    draws = pd.DataFrame(
        {
            "sensor": g.integers(0, len(synth.SENSORS), n),
            "block": g.random(n) < BLOCK_SHARE,
            "pos_x": np.where(far, u_x * 100000.0 - 50000.0, 3.8 + u_x * (207.3 - 3.8)),
            "pos_y": np.where(far, u_y * 100000.0 - 50000.0, u_y * 22.135),
            "pos_z": g.random(n) * 5.5,
            "missing": g.random(n) < MISSING_SECTION_SHARE,
            "site": g.random(n) < SITE_SHARE,
            "site_pass": g.integers(1, synth.N_PASSES + 1, n),
            "exposure": g.integers(0, 100, n),
            "qa": g.random(n) < 0.9,
            "lang": np.array(["en", "de", ""])[
                np.searchsorted([0.80, 0.95], g.random(n), side="right")
            ],
        }
    )
    ids = range(first_id, first_id + n)
    urls = [f"https://site-{i % 1000}.example/page/{i}" for i in ids]
    html, text, lang = zip(*(_page(i, r) for i, r in zip(ids, draws.to_dict("records"))))
    table = pa.table(
        {
            "url": urls,
            "warc_ts": [_T0 + dt.timedelta(seconds=i) for i in ids],
            "html": [h.encode("utf-8") for h in html],
            "text": list(text),
            "lang": list(lang),
        },
        schema=ARROW_SCHEMA,
    )
    out = Pages(table)
    for url, r in zip(urls, draws.to_dict("records")):
        if r["block"]:
            out.datapoint_urls.add(url)
            if r["site"]:
                out.site_plot[url] = "42-%d" % r["site_pass"]
    return out


def write(p: Pages, path: str, files: int = 1) -> None:
    """Write ``p`` as ``files`` parquet files under directory ``path`` (several
    files let the scan split across cores)."""
    os.makedirs(path, exist_ok=True)
    step = -(-p.n // files)
    for k in range(files):
        pq.write_table(p.table.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet"))


def points(seed: int, query: int, n: int) -> pd.DataFrame:
    """One lookup query: half the points inside the plot field, half
    scattered worldwide (which the exact broadcast fallback must resolve)."""
    g = rng(seed, POINTS, query)
    half = n // 2
    lat = np.r_[g.uniform(*FIELD_LAT, half), g.uniform(-70.0, 70.0, n - half)]
    lon = np.r_[g.uniform(*FIELD_LON, half), g.uniform(-180.0, 180.0, n - half)]
    return pd.DataFrame(
        {"url": [f"q{query}-{j}" for j in range(n)], "centroid_lat": lat, "centroid_lon": lon}
    )
