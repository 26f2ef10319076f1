"""Tiny-size smoke run of all three workloads and their output checks.

    python3 perfbench/smoke.py

Runs two operations of each workload at toy sizes in one session, requires
every output check to pass, then feeds the checks a deliberately wrong plot
id (and, for ``incremental``, a wrong url set) and requires them to reject
it. Exits 0 when all of that holds. Takes about two minutes.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _wrong_plot(plot_id: str) -> str:
    r, p = plot_id.split("-")
    return f"{r}-{int(p) % 16 + 1}"


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import run as bench

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"smoke-{os.getpid()}")
    bench._environment(tmp)

    from extractors_metadata_spark import synth
    from extractors_metadata_spark.plans.pipeline import run_pipeline
    from extractors_metadata_spark.operators.pip_knn import knn_join, resolve_plots
    from perfbench import check
    from perfbench import workloads as W

    W.BACKFILL_PAGES, W.BATCH_PAGES, W.QUERY_POINTS = 300, 100, 20
    failures = []

    def expect(cond: bool, what: str) -> None:
        print(("ok    " if cond else "FAIL  ") + what, flush=True)
        if not cond:
            failures.append(what)

    spark = bench._start_session(tmp, events=False)
    try:
        plots = synth.plot_rings()
        for name, cls in W.WORKLOADS.items():
            wl = cls(os.path.join(tmp, name), 7, None)
            os.makedirs(wl.tmp)
            wl.generate()
            wl.start(spark, plots)
            ops = [wl.op(i) for i in range(2)]
            expect(all(o.ok for o in ops), f"{name}: two operations pass their output checks")

        # backfill: every datapoint checks out, one wrong plot id does not
        wl = W.Backfill(os.path.join(tmp, "backfill"), 7, None)
        wl.generate()
        dp, _ = run_pipeline(spark, spark.read.parquet(wl.pages_dir), plots)
        rows = [r.asDict() for r in dp.select(
            "url", "plot_id", "matched_via", "centroid_lat", "centroid_lon").collect()]
        expect(len(rows) == len(wl.pages.datapoint_urls)
               and all(check.datapoint_ok(r, wl.pages.site_plot) for r in rows),
               "backfill: all datapoints match the independent derivation")
        bad = dict(rows[0], plot_id=_wrong_plot(rows[0]["plot_id"]))
        expect(not check.datapoint_ok(bad, wl.pages.site_plot),
               "backfill: a wrong plot id is rejected")

        # lookup: a wrong plot id in a resolve result is rejected
        pts = W.gen.points(7, 0, W.QUERY_POINTS)
        res = [r.asDict() for r in resolve_plots(spark, spark.createDataFrame(pts), plots).collect()]
        expect(check.lookup_failures(pts, res, "resolve", W.KNN_K) == 0,
               "lookup: resolve rows match the independent derivation")
        res[0]["plot_id"] = _wrong_plot(res[0]["plot_id"])
        expect(check.lookup_failures(pts, res, "resolve", W.KNN_K) == 1,
               "lookup: a wrong plot id is rejected")
        res = [r.asDict() for r in knn_join(spark, spark.createDataFrame(pts), plots, k=W.KNN_K).collect()]
        res[0]["plot_id"] = _wrong_plot(res[0]["plot_id"])
        expect(check.lookup_failures(pts, res, "knn", W.KNN_K) == 1,
               "lookup: a wrong kNN plot id is rejected")

        # incremental: a batch whose committed urls differ from the landed
        # batch's is rejected
        wl = W.Incremental(os.path.join(tmp, "incremental2"), 7, None)
        os.makedirs(wl.tmp)
        wl.generate()
        wl.start(spark, plots)
        real_land = wl._land

        def land_short(i):
            p, staged, landing = real_land(i)
            return dataclasses.replace(p, datapoint_urls=p.datapoint_urls | {"x://extra"}), staged, landing

        wl._land = land_short
        expect(not wl.op(0).ok, "incremental: a committed url set that differs is rejected")
    finally:
        bench._stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    print(f"smoke: {len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
