"""The three workloads: ``backfill``, ``incremental`` and ``lookup``.

Each exposes ``op(i)`` (one untraced operation: a pipeline pass, a landed
batch or a resolve + kNN query pair, output checked), ``traced_op(i)`` (the
same work with each layer materialized on its own inside a span), and the
per-layer metrics its traced operations gathered. README.md says why each
workload exists.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass

from pyspark.sql import Observation
from pyspark.sql import functions as F

from extractors_metadata_spark.operators.pip_knn import knn_join, resolve_plots
from extractors_metadata_spark.operators.tile_assign import tile_assign
from extractors_metadata_spark.plans.parse import parse_metadata, with_footprint_cells
from extractors_metadata_spark.plans.pipeline import POINT_COLS, datapoints, run_pipeline
from extractors_metadata_spark.schemas import WEBPAGES
from extractors_metadata_spark.sources.snapshot import live_snapshots, resume_gap, write_snapshot
from extractors_metadata_spark.streaming.stream import stream_pipeline

from . import check, gen
from .trace import Tracer

# Sizes (README.md explains the choice): one backfill pass, one landed batch,
# the points of one lookup operation.
BACKFILL_PAGES = 12000
BACKFILL_FILES = 4
BATCH_PAGES = 100
QUERY_POINTS = 200
QUERY_POOL = 64
KNN_K = 3
# one in SAMPLE_EVERY datapoints (by url hash) gets its plot id re-derived
SAMPLE_EVERY = 32
# points this far (degrees, ~100 m) outside the plot field take the exact
# broadcast fallback of the resolve join
FAR_DEG = 1e-3

# span name -> per-layer metric holding its median self time
SPAN_METRICS = {
    "parse": "parse.s",
    "footprint": "footprint.s",
    "resolve.plan": "resolve.plan_s",
    "resolve": "resolve.s",
    "knn.plan": "knn.plan_s",
    "knn": "knn.s",
    "tiles": "tiles.s",
    "datapoints": "datapoints.s",
    "snapshot.resume": "snapshot.resume_s",
    "snapshot.write": "snapshot.write_s",
}


@dataclass
class Op:
    start: float
    end: float
    units: int  # pages (backfill, incremental) or points (lookup)
    ok: bool

    @property
    def seconds(self) -> float:
        return self.end - self.start


def noop(df) -> None:
    """Materialize every column of ``df`` without storing it (a bare count()
    would let Spark prune the UDF columns)."""
    df.write.format("noop").mode("overwrite").save()


def _far(lat, lon):
    """Points more than FAR_DEG outside the plot field; works on Spark
    columns and pandas series alike."""
    return (
        (lat < gen.FIELD_LAT[0] - FAR_DEG) | (lat > gen.FIELD_LAT[1] + FAR_DEG)
        | (lon < gen.FIELD_LON[0] - FAR_DEG) | (lon > gen.FIELD_LON[1] + FAR_DEG)
    )


def _du(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size, files


class Workload:
    name = ""

    def __init__(self, tmp: str, seed: int, tracer: Tracer | None) -> None:
        self.tmp, self.seed, self.tracer = tmp, seed, tracer
        self.spark = self.plots = None
        self.layer: dict[str, list[float]] = {}  # per-layer counts, one per traced op

    def generate(self) -> None:
        """Write the seeded inputs (not part of set-up time)."""

    def start(self, spark, plots) -> None:
        self.spark, self.plots = spark, plots

    def prepare_trace(self) -> None:
        """Write the per-layer inputs a traced run reads (trace runs only)."""

    def op(self, i: int) -> Op:
        raise NotImplementedError

    def traced_op(self, i: int) -> Op:
        raise NotImplementedError

    def _count(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    def per_layer(self) -> dict[str, float]:
        t = self.tracer
        out = {metric: t.median_self(span) for span, metric in SPAN_METRICS.items()}
        drains = [s["end"] - s["start"] for s in t.spans if s["name"] == "stream.drain"]
        out["stream.drain_s"] = statistics.median(drains) if drains else 0.0
        # drain time not spent in the three batch layers: planning, source
        # listing, checkpoint commits
        out["stream.overhead_s"] = t.median_self("stream.drain")
        out |= {n: statistics.median(v) for n, v in self.layer.items()}
        fp_rows = out.pop("footprint.rows", 0.0)
        out["footprint.rows_per_s"] = fp_rows / out["footprint.s"] if out["footprint.s"] else 0.0
        return out


class Backfill(Workload):
    """Bulk pass: pages from parquet -> ``run_pipeline`` -> both frames to the
    ``noop`` sink, so every output column is computed and nothing stored."""

    name = "backfill"

    def generate(self) -> None:
        self.pages = gen.pages(self.seed, 0, BACKFILL_PAGES)
        if not check.text_invariant_ok(self.pages.table):
            raise RuntimeError("generator broke the text == extract_text(html) invariant")
        self.pages_dir = os.path.join(self.tmp, "pages")
        gen.write(self.pages, self.pages_dir, BACKFILL_FILES)

    def _sample_obs(self, dp):
        obs = Observation("perfbench_dp")
        sample = F.xxhash64("url") % SAMPLE_EVERY == 0
        cols = F.struct("url", "plot_id", "matched_via", "centroid_lat", "centroid_lon")
        return dp.observe(
            obs, F.count(F.lit(1)).alias("n"), F.collect_list(F.when(sample, cols)).alias("s")
        ), obs

    def _ok(self, n_dp: int, sample: list, n_tiles: int) -> bool:
        return (
            n_dp == len(self.pages.datapoint_urls)
            and all(check.datapoint_ok(r.asDict(), self.pages.site_plot) for r in sample)
            # every datapoint covers at least one tile at each of the 6 zooms
            and n_tiles >= 6 * n_dp
        )

    def op(self, i: int) -> Op:
        t0 = time.time()
        try:
            pages = self.spark.read.parquet(self.pages_dir)
            dp, tl = run_pipeline(self.spark, pages, self.plots)
            dp, dp_obs = self._sample_obs(dp)
            tl_obs = Observation("perfbench_tiles")
            noop(dp)
            noop(tl.observe(tl_obs, F.count(F.lit(1)).alias("n")))
            t1 = time.time()
            ok = self._ok(dp_obs.get["n"], dp_obs.get["s"], tl_obs.get["n"])
        except Exception as e:  # noqa: BLE001 - a failed pass is counted, not fatal
            print(f"[perfbench] backfill pass {i} failed: {e!r}", file=sys.stderr, flush=True)
            t1, ok = time.time(), False
        return Op(t0, t1, self.pages.n, ok)

    def prepare_trace(self) -> None:
        s = self.spark
        d = {k: os.path.join(self.tmp, k) for k in ("parsed", "fp", "lookup", "resolved")}
        parse_metadata(s.read.parquet(self.pages_dir)).write.parquet(d["parsed"])
        with_footprint_cells(s.read.parquet(d["parsed"])).select(*POINT_COLS, "sitename").write.parquet(d["fp"])
        fp = s.read.parquet(d["fp"])
        fp.filter(F.col("sitename").isNull()).drop("sitename").write.parquet(d["lookup"])
        site = fp.filter(F.col("sitename").isNotNull()).withColumn(
            "plot_id", F.element_at(F.split("sitename", " "), -1)
        ).withColumn("matched_via", F.lit("site")).drop("sitename")
        self._resolve(s.read.parquet(d["lookup"])).unionByName(site).write.parquet(d["resolved"])
        self.dirs = d
        self.n_site = site.count()

    def _resolve(self, points):
        # the arguments plans.pipeline._resolved passes for the pipeline path
        return resolve_plots(self.spark, points, self.plots, res=13, ring=3, cell_col="cell_r13")

    def traced_op(self, i: int) -> Op:
        s, t, d = self.spark, self.tracer, self.dirs
        counts = F.count(F.lit(1)).alias("n")
        t0 = time.time()
        with t.span("pass", i):
            with t.span("parse", i):
                o = Observation("perfbench_parse")
                noop(parse_metadata(s.read.parquet(self.pages_dir)).observe(o, counts))
                parsed = o.get["n"]
            with t.span("footprint", i):
                o = Observation("perfbench_fp")
                noop(with_footprint_cells(s.read.parquet(d["parsed"])).observe(o, counts))
                fp_rows = o.get["n"]
            with t.span("resolve.plan", i):
                resolved = self._resolve(s.read.parquet(d["lookup"]))
            with t.span("resolve", i):
                o = Observation("perfbench_resolve")
                via = F.col("matched_via")
                noop(resolved.observe(
                    o, counts,
                    F.sum((via == "contains").cast("int")).alias("contains"),
                    F.sum((via == "nearest").cast("int")).alias("nearest"),
                    F.sum(_far(F.col("centroid_lat"), F.col("centroid_lon")).cast("int")).alias("far"),
                ))
                r = o.get
            with t.span("tiles", i):
                o = Observation("perfbench_tiles")
                noop(tile_assign(s.read.parquet(d["resolved"])).observe(o, counts))
                tiles = o.get["n"]
        n_dp = r["n"] + self.n_site
        self._count("parse.rows_out", parsed)
        self._count("parse.keep_share", parsed / self.pages.n)
        self._count("footprint.rows", fp_rows)
        self._count("resolve.points", r["n"])
        self._count("resolve.contains_share", r["contains"] / n_dp)
        self._count("resolve.nearest_share", r["nearest"] / n_dp)
        self._count("resolve.site_share", self.n_site / n_dp)
        self._count("resolve.far_share", r["far"] / n_dp)
        self._count("tiles.rows_out", tiles)
        self._count("tiles.per_datapoint", tiles / n_dp)
        return Op(t0, time.time(), self.pages.n, n_dp == len(self.pages.datapoint_urls))


class Incremental(Workload):
    """Message-driven mode: a batch of pages lands as one new parquet file,
    then ``stream_pipeline(max_files_per_trigger=1)`` drains it into one
    snapshot table. The next batch lands only after the previous commit."""

    name = "incremental"

    def generate(self) -> None:
        # batches are generated as they land (untimed, see _land); here only
        # the run's table state, which outlives session restarts
        self.inbox = os.path.join(self.tmp, "inbox")
        self.table = os.path.join(self.tmp, "table")
        self.ckpt = os.path.join(self.tmp, "checkpoint")
        os.makedirs(self.inbox)
        self.committed: set[str] = set()
        self.rows = 0

    def _land(self, i: int):
        """Stage batch ``i`` (untimed), return (pages, staged file, landing path)."""
        p = gen.pages(self.seed, i * BATCH_PAGES, BATCH_PAGES, part=i)
        stage = os.path.join(self.tmp, "stage", f"b{i:05d}")
        gen.write(p, stage)
        return p, os.path.join(stage, "part-000.parquet"), os.path.join(self.inbox, f"b{i:05d}.parquet")

    def _check(self, p, n_snaps_before: int) -> bool:
        """The batch committed exactly one snapshot holding exactly its urls,
        none of them already in an earlier snapshot."""
        import pyarrow.parquet as pq

        live = live_snapshots(self.table)
        if len(live) != n_snaps_before + 1:
            return False
        urls = pq.read_table(live[-1]["data_dir"], columns=["url"]).column("url").to_pylist()
        got = set(urls)
        ok = len(urls) == len(got) and got == p.datapoint_urls and not (got & self.committed)
        self.committed |= got
        self.rows += len(urls)
        return ok

    def _run(self, i: int, drain) -> Op:
        p, staged, landing = self._land(i)
        before = len(live_snapshots(self.table))
        t0 = time.time()
        try:
            os.rename(staged, landing)
            drain(i)
            t1 = time.time()
            ok = self._check(p, before)
        except Exception as e:  # noqa: BLE001 - a failed batch is counted, not fatal
            print(f"[perfbench] incremental batch {i} failed: {e!r}", file=sys.stderr, flush=True)
            t1, ok = time.time(), False
        return Op(t0, t1, p.n, ok)

    def op(self, i: int) -> Op:
        def drain(_):
            stream_pipeline(
                self.spark, self.inbox, self.table, self.ckpt, self.plots, max_files_per_trigger=1
            ).awaitTermination()

        return self._run(i, drain)

    def traced_op(self, i: int) -> Op:
        """``streaming.stream.process_batch``'s three calls, each in a span and
        materialized on its own: resume_gap -> datapoints -> write_snapshot."""
        s, t = self.spark, self.tracer

        def process_batch(batch_df, _batch_id):
            with t.span("snapshot.resume", i):
                todo = resume_gap(s, batch_df.dropDuplicates(["url"]), self.table, "url").persist()
                noop(todo)
            with t.span("datapoints", i):
                out = datapoints(s, todo, self.plots).persist()
                noop(out)
            before = _du(self.table)
            with t.span("snapshot.write", i):
                write_snapshot(out, self.table, "append", key_cols=("url",), cluster_by=("cell_r9",))
            after = _du(self.table)
            self._count("snapshot.bytes_written", after[0] - before[0])
            self._count("snapshot.files_written", after[1] - before[1])
            out.unpersist()
            todo.unpersist()

        def drain(_):
            with t.span("stream.drain", i):
                (
                    s.readStream.schema(WEBPAGES)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(self.inbox)
                    .writeStream.foreachBatch(process_batch)
                    .option("checkpointLocation", self.ckpt)
                    .trigger(availableNow=True)
                    .start()
                    .awaitTermination()
                )

        op = self._run(i, drain)
        self._count("snapshot.live_snapshots", len(live_snapshots(self.table)))
        return op

    def per_layer(self) -> dict[str, float]:
        out = super().per_layer()
        out["stored_bytes_per_row"] = _du(self.table)[0] / max(self.rows, 1)
        return out


class Lookup(Workload):
    """Point -> plot queries: one operation sends the same ~200 seeded points
    through ``resolve_plots`` and then ``knn_join(k=3)``, collecting the rows
    of each, so every operation holds one query of each kind."""

    name = "lookup"
    KINDS = ("resolve", "knn")

    def generate(self) -> None:
        self.pool = [gen.points(self.seed, q, QUERY_POINTS) for q in range(QUERY_POOL)]

    def _run(self, i: int, span) -> Op:
        pts = self.pool[i % QUERY_POOL]
        t0 = time.time()
        try:
            df = self.spark.createDataFrame(pts)
            rows = {}
            for kind in self.KINDS:
                with span(f"{kind}.plan"):
                    if kind == "resolve":
                        res = resolve_plots(self.spark, df, self.plots)
                    else:
                        res = knn_join(self.spark, df, self.plots, k=KNN_K)
                with span(kind):
                    rows[kind] = res.collect()
            t1 = time.time()
            ok = all(check.lookup_failures(pts, rows[k], k, KNN_K) == 0 for k in self.KINDS)
        except Exception as e:  # noqa: BLE001 - a failed query is counted, not fatal
            print(f"[perfbench] lookup query {i} failed: {e!r}", file=sys.stderr, flush=True)
            return Op(t0, time.time(), len(pts), False)
        if self.tracer is not None:
            far = _far(pts["centroid_lat"], pts["centroid_lon"])
            via = [r["matched_via"] for r in rows["resolve"]]
            self._count("resolve.points", len(rows["resolve"]))
            self._count("resolve.contains_share", via.count("contains") / len(pts))
            self._count("resolve.nearest_share", via.count("nearest") / len(pts))
            self._count("resolve.far_share", float(far.sum()) / len(pts))
        return Op(t0, t1, len(pts), ok)

    def op(self, i: int) -> Op:
        return self._run(i, lambda name: nullcontext())

    def traced_op(self, i: int) -> Op:
        with self.tracer.span("query", i):
            return self._run(i, lambda name: self.tracer.span(name, i))


WORKLOADS = {w.name: w for w in (Backfill, Incremental, Lookup)}
