"""Benchmark of the spatial-join + tiling engine.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 20 --trace 0

Generates the workload's inputs from ``--seed``, starts a ``local[2]``
session from ``session.get_spark``, warms up until consecutive operations
settle, then runs operations in a closed loop (one client) for
``--seconds``. Every operation's output is checked. The last line of stdout
is one JSON object: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Metric names and units come from
``BENCHMARK.json``; README.md explains the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = 2
DRIVER_MEMORY = "2g"
# warm-up ends once an operation takes within SETTLE of the one before it
SETTLE = 0.2
MAX_WARMUP_OPS = 1


def _environment(tmp: str) -> None:
    """Confine Spark's files to ``tmp`` and let Python workers import the
    engine from any working directory. Must run before the JVM starts."""
    for sub in ("local", "warehouse", "java"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(tmp, "warehouse"),
        TMPDIR=os.path.join(tmp, "java"),
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )


def _start_session(tmp: str, events: bool):
    from extractors_metadata_spark.session import get_spark

    # set explicitly both ways: the session builder keeps options across
    # sessions started in one process
    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(tmp, 'java')}",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": str(events).lower(),
    }
    if events:
        os.makedirs(os.path.join(tmp, "events"), exist_ok=True)
        conf |= {
            "spark.eventLog.dir": "file://" + os.path.join(tmp, "events"),
            "spark.eventLog.compress": "false",
        }
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until it (and with it every Python
    worker it forked) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - last resort; re-raise nothing
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _settled(prev, last) -> bool:
    return abs(last.seconds - prev.seconds) <= SETTLE * prev.seconds


def _p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10, method="inclusive")[8] if len(xs) > 1 else xs[0]


def _ok_seconds(ops: list) -> list[float]:
    """Times of the operations that passed their checks (all, if none did)."""
    return [o.seconds for o in ops if o.ok] or [o.seconds for o in ops]


def _rate(ops: list) -> float:
    """Input rows of the passing operations per second of the measured
    window's wall time (gaps between operations included)."""
    return sum(o.units for o in ops if o.ok) / (ops[-1].end - ops[0].start)


def _warm_up(wl, ops: list) -> list:
    """Run operations until one takes within SETTLE of the one before it;
    return that settled pair, which opens the measured window."""
    first = len(ops)
    while len(ops) - first < 2 or not _settled(*ops[-2:]):
        ops.append(wl.op(len(ops)))
        if len(ops) - first == MAX_WARMUP_OPS + 2:
            break
    return ops[-2:]


def run(workload: str, seed: int, seconds: float, trace: bool, tmp: str) -> dict:
    """One run: set-up, warm-up, then ``seconds`` of closed-loop operations.

    A traced run starts its session with the Spark event log on and, after
    the same warm-up, alternates one layer-by-layer traced operation with
    one untraced operation for ``seconds``. Both kinds run in the same
    window at the same JVM age, so the ratio of their medians is the cost of
    tracing (``trace.overhead_share``), not warm-up drift."""
    from extractors_metadata_spark import synth
    from perfbench import trace as tr
    from perfbench.workloads import WORKLOADS

    tracer = tr.Tracer() if trace else None
    wl = WORKLOADS[workload](tmp, seed, tracer)
    with tr.RssSampler() as rss:
        probe_start = tr.cold_page_gbps()
        t = time.time()
        wl.generate()
        gen_s = time.time() - t

        setup_start = time.time()
        spark = _start_session(tmp, events=trace)
        session_s = time.time() - setup_start
        ops: list = []
        try:
            wl.start(spark, synth.plot_rings())
            measured = _warm_up(wl, ops)
            setup_s = measured[0].start - setup_start
            n_warmup = len(ops) - 2
            traced: list = []
            if trace:
                wl.prepare_trace()
                measured = []
                start = time.time()
                while not traced or time.time() - start < seconds:
                    traced.append(wl.traced_op(len(ops)))
                    ops.append(traced[-1])
                    ops.append(wl.op(len(ops)))
                    measured.append(ops[-1])
            else:
                while time.time() - measured[0].start < seconds:
                    ops.append(wl.op(len(ops)))
                    measured.append(ops[-1])
        finally:
            _stop_session(spark)
        probe_end = tr.cold_page_gbps()

    failed = sum(not o.ok for o in ops)
    info = {
        "workload": workload, "seed": seed, "generate_s": round(gen_s, 3),
        "warmup_op_s": [round(o.seconds, 3) for o in ops[:n_warmup]],
        "measured_op_s": [round(o.seconds, 3) for o in measured],
        "traced_op_s": [round(o.seconds, 3) for o in traced] if trace else None,
        "cold_page_gbps": [round(probe_start, 3), round(probe_end, 3)],
        "peak_rss_mb_by_process": rss.peak_parts,
    }
    print("[perfbench] " + json.dumps(info), file=sys.stderr, flush=True)
    if not trace:
        lat = _ok_seconds(measured)
        metrics = {
            "setup_s": setup_s,
            "input_rows_per_s": _rate(measured),
            "op_p50_s": statistics.median(lat),
            "op_p90_s": _p90(lat),
            "ok_share": 1.0 - failed / len(ops),
        }
    else:
        metrics = wl.per_layer() | tr.spark_counts(
            os.path.join(tmp, "events"), [(o.start, o.end) for o in measured]
        ) | {
            "session.start_s": session_s,
            "peak_rss_mb": rss.peak_bytes / 2**20,
            "host.cold_page_gbps.start": probe_start,
            "host.cold_page_gbps.end": probe_end,
            "trace.overhead_share": statistics.median(_ok_seconds(traced))
            / statistics.median(_ok_seconds(measured)) - 1.0,
        }
        tracer.dump(os.path.join(ROOT, ".perfbench_out", f"spans-{workload}-{seed}.jsonl"))
    return {"correct": failed == 0, "attempted": len(ops), "failed": failed, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("backfill", "incremental", "lookup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, "extractors_metadata_spark", "__init__.py")):
        print("perfbench: the engine package extractors_metadata_spark is not in "
              f"{ROOT}; run from a checkout of the repository", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    _environment(tmp)
    sys.path.insert(0, ROOT)
    try:
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    got = result["metrics"]
    result["metrics"] = {
        m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
