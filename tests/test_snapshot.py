"""Snapshot manifests, lineage, and kill-resume semantics (SURVEY §2.10 T4)."""

import os
import re
import uuid

import pytest
from pyspark.sql import functions as F

from extractors_metadata_spark.sources import snapshot as snap


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def test_write_read_roundtrip(spark, table):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    m = snap.write_snapshot(df, table)
    assert m["rows"] == 100
    assert m["snapshot_id"] == 0
    assert m["parent_id"] is None
    assert m["rows_per_sec"] is None or m["rows_per_sec"] > 0
    assert sum(e["rows"] for e in m["files"]) == 100  # per-file lineage
    back = snap.read_table(spark, table)
    assert back.count() == 100


def test_append_and_replace(spark, table):
    snap.write_snapshot(spark.range(0, 50), table)
    m2 = snap.write_snapshot(spark.range(50, 80), table)
    assert m2["parent_id"] == 0
    assert snap.read_table(spark, table).count() == 80
    snap.write_snapshot(spark.range(0, 10), table, mode="replace")
    assert snap.read_table(spark, table).count() == 10
    assert [m["snapshot_id"] for m in snap.live_snapshots(table)] == [2]


def test_mid_write_kill_does_not_deadlock(spark, table):
    """A run killed between parquet-write and manifest-commit leaves an orphan
    data dir; the next write must reuse the snap id without colliding, readers
    must never see orphan rows, and gc reclaims the debris."""
    snap.write_snapshot(spark.range(10), table)
    # simulate the kill: orphan data written for would-be snap 1, no manifest
    orphan = os.path.join(table, "data", "snap-00001-deadbeef")
    spark.range(500, 505).write.parquet(orphan)
    m = snap.write_snapshot(spark.range(10, 20), table)  # must not raise
    assert m["snapshot_id"] == 1
    back = snap.read_table(spark, table)
    assert back.count() == 20  # orphan rows invisible
    assert back.agg(F.max("id")).collect()[0][0] == 19
    # grace_s=0.0: offline maintenance — single-writer assumption known-good
    removed = snap.gc_orphans(table, grace_s=0.0)
    assert removed == ["snap-00001-deadbeef"]
    assert snap.read_table(spark, table).count() == 20
    assert snap.gc_orphans(table, grace_s=0.0) == []
    # the default grace (5 min) keeps young debris: belt against live writers
    orphan2 = os.path.join(table, "data", "snap-00002-deadbeef")
    spark.range(3).write.parquet(orphan2)
    assert snap.gc_orphans(table) == []


def test_resume_gap_processes_only_missing(spark, table):
    inp = spark.range(100).withColumnRenamed("id", "k")
    first = inp.filter(F.col("k") < 40)
    snap.write_snapshot(first, table)
    gap = snap.resume_gap(spark, inp, table, "k")
    assert gap.count() == 60
    assert gap.agg(F.min("k")).collect()[0][0] == 40


def test_run_incremental_idempotent(spark, table):
    """Kill-and-resume: re-running never duplicates; final state equals a
    single full run (order-insensitive)."""
    inp = spark.range(100).withColumnRenamed("id", "k")

    def transform(df):
        return df.withColumn("out", F.col("k") * 10)

    # simulated partial run (killed after 30 keys committed)
    snap.write_snapshot(transform(inp.filter(F.col("k") < 30)), table)
    # resume: full input again
    m = snap.run_incremental(spark, inp, table, "k", transform)
    assert m["rows"] == 70  # only the gap
    final = snap.read_table(spark, table)
    assert final.count() == 100
    assert final.select("k").distinct().count() == 100
    # re-run once more: nothing to do
    m2 = snap.run_incremental(spark, inp, table, "k", transform)
    assert m2["rows"] == 0
    assert snap.read_table(spark, table).count() == 100
    # equals single-run table
    single = transform(inp)
    assert (
        final.orderBy("k").collect() == single.orderBy("k").collect()
    )


def test_concurrent_writers_both_commit(spark, table):
    """Two writers that read the same snapshot ids at once must both land:
    the loser of the id race commits under the next id on top of the winner,
    and every url of both batches stays readable."""
    import threading

    snap.write_snapshot(spark.range(1).selectExpr("'seed' AS url"), table)
    batches = {
        name: spark.range(20).selectExpr(f"concat('{name}-', id) AS url")
        for name in ("a", "b")
    }
    start = threading.Barrier(2, timeout=60)
    manifests, errors = {}, []

    def writer(name):
        try:
            start.wait()
            manifests[name] = snap.write_snapshot(batches[name], table)
        except Exception as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(n,)) for n in batches]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert snap._snap_ids(table) == [0, 1, 2]
    ids = sorted((m["snapshot_id"], m["parent_id"]) for m in manifests.values())
    assert ids == [(1, 0), (2, 1)]
    assert snap.live_snapshots(table)[-1]["snapshot_id"] == 2
    snap_dir = os.path.join(table, "snapshots")
    assert not [f for f in os.listdir(snap_dir) if f.startswith(".tmp-")]
    urls = {r.url for r in snap.read_table(spark, table).collect()}
    assert urls == {"seed"} | {f"{n}-{i}" for n in batches for i in range(20)}


def test_manifest_files_on_disk(spark, table):
    snap.write_snapshot(spark.range(10), table)
    snaps = os.listdir(os.path.join(table, "snapshots"))
    assert "snap-00000.json" in snaps


def test_time_travel(spark, table):
    snap.write_snapshot(spark.range(0, 50), table)          # snap 0
    snap.write_snapshot(spark.range(50, 80), table)         # snap 1
    snap.write_snapshot(spark.range(0, 10), table, mode="replace")  # snap 2
    snap.write_snapshot(spark.range(10, 15), table)         # snap 3
    assert snap.read_table(spark, table, as_of=0).count() == 50
    assert snap.read_table(spark, table, as_of=1).count() == 80
    assert snap.read_table(spark, table, as_of=2).count() == 10
    assert snap.read_table(spark, table).count() == 15


def test_resume_gap_uses_compact_keys_table(spark, table):
    """Snapshots written with key_cols let resume anti-join the narrow keys
    parquet instead of the full output: the resume plan must reference the
    keys dir and NOT the data dir."""
    inp = spark.range(100).withColumnRenamed("id", "k").withColumn(
        "payload", F.concat(F.lit("x"), F.col("k"))
    )
    m = snap.write_snapshot(inp.filter(F.col("k") < 40), table, key_cols=("k",))
    assert m["keys_dir"] and os.path.isdir(m["keys_dir"])
    gap = snap.resume_gap(spark, inp, table, "k")
    assert gap.count() == 60
    # the plan's file sources: keys parquet only, never the wide data dir
    files = gap.inputFiles()
    assert files and all(m["keys_dir"] in f for f in files)
    assert not any(m["data_dir"] in f for f in files)


def _jobs_during(spark, fn):
    """(fn(), number of Spark jobs launched while fn ran)."""
    sc = spark.sparkContext
    group = f"jobs-during-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "jobs launched by one call")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_resume_gap_plans_without_jobs_in_one_keys_scan(spark, table):
    """Planning the resume anti-join launches no Spark job however many keyed
    snapshots are live (no per-keys-dir schema inference), and reads every
    keys dir in one scan; a delete set still puts its keys back in the gap."""
    inp = spark.range(100).withColumnRenamed("id", "k")
    ms = [
        snap.write_snapshot(
            inp.filter((F.col("k") >= lo) & (F.col("k") < lo + 10)), table, key_cols=("k",)
        )
        for lo in range(0, 60, 10)
    ]
    gap, jobs = _jobs_during(spark, lambda: snap.resume_gap(spark, inp, table, "k"))
    assert jobs == 0
    assert sorted(r.k for r in gap.collect()) == list(range(60, 100))
    plan = gap._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"Relation \[[^\]]*\] parquet", plan)) == 1
    files = gap.inputFiles()
    assert all(any(m["keys_dir"] in f for f in files) for m in ms)
    assert not any(m["data_dir"] in f for m in ms for f in files)

    snap.delete_keys(spark, table, spark.createDataFrame([(5,), (15,)], "k long"), ("k",))
    gap, jobs = _jobs_during(spark, lambda: snap.resume_gap(spark, inp, table, "k"))
    assert jobs == 0
    assert sorted(r.k for r in gap.collect()) == [5, 15, *range(60, 100)]


def test_resume_gap_plans_without_jobs_past_the_listing_threshold(spark, table):
    """Past 32 paths (Spark's default parallelPartitionDiscovery threshold) a
    multi-path scan lists its paths with a Spark job; the session raises the
    threshold, so a 40-snapshot table still plans its resume job-free."""
    inp = spark.range(50).withColumnRenamed("id", "k")
    for k in range(40):
        snap.write_snapshot(inp.filter(F.col("k") == k).coalesce(1), table, key_cols=("k",))
    gap, jobs = _jobs_during(spark, lambda: snap.resume_gap(spark, inp, table, "k"))
    assert jobs == 0
    assert sorted(r.k for r in gap.collect()) == list(range(40, 50))


KEY_CASES = {
    "duplicated": ([(1, "a"), (1, "b"), (2, "c"), (2, "c"), (3, "d")], "k long, v string", ("k",)),
    "null": ([(None, "a"), (None, "b"), (7, "c")], "k long, v string", ("k",)),
    "long": ([(2**62 + i % 3, -i) for i in range(20)], "k long, v long", ("k",)),
    "string": ([(u, 1) for u in ("http://a/1", "http://a/2", "http://a/1", "", "ü")],
               "url string, v int", ("url",)),
    "two_columns": ([(1, "x", 0.5), (1, "y", 0.5), (1, "x", 1.5), (None, "x", 0.0),
                     (None, "x", 2.0), (2, None, 0.0)], "k long, s string, v double", ("k", "s")),
    "zero_rows": ([], "url string, v long", ("url",)),
}


@pytest.mark.parametrize("case", sorted(KEY_CASES))
def test_small_keyed_commit_is_one_job_with_driver_built_keys(spark, table, case):
    """At or under INLINE_FILES_CAP files and DRIVER_KEYS_ROWS_CAP rows the
    keys table comes from the driver's footer pass: the commit launches one
    Spark job (the data write), and the keys, read back with schema
    inference as read_table's merge-on-read path does, equal the committed
    data's distinct key values."""
    from collections import Counter

    rows, schema, key_cols = KEY_CASES[case]
    df = spark.createDataFrame(rows, schema)
    m, jobs = _jobs_during(spark, lambda: snap.write_snapshot(df, table, key_cols=key_cols))
    assert jobs == 1
    assert os.listdir(m["keys_dir"]) == ["part-00000.parquet"]
    keys = spark.read.parquet(m["keys_dir"])
    want = spark.read.parquet(m["data_dir"]).select(*key_cols).distinct()
    assert keys.columns == list(key_cols)
    assert [f.dataType for f in keys.schema] == [f.dataType for f in want.schema]
    assert Counter(map(tuple, keys.collect())) == Counter(map(tuple, want.collect()))
    assert m["rows"] == len(rows)


def test_keyed_commit_above_the_row_cap_writes_a_distributed_distinct(spark, table):
    """Past DRIVER_KEYS_ROWS_CAP rows the keys table is Spark's distinct of
    the committed files, as before: more jobs than the data write alone."""
    n = snap.DRIVER_KEYS_ROWS_CAP + 1
    df = spark.range(n, numPartitions=2).select((F.col("id") % 1000).alias("k"), "id")
    m, jobs = _jobs_during(spark, lambda: snap.write_snapshot(df, table, key_cols=("k",)))
    assert m["rows"] == n and m["files"] is not None  # still the inline lineage
    assert jobs > 1
    assert sorted(r.k for r in spark.read.parquet(m["keys_dir"]).collect()) == list(range(1000))


def test_gc_orphans_respects_grace_and_files(spark, table):
    """Young orphan dirs survive the grace window; stray plain files under
    data/ are never touched; orphan keys dirs are reclaimed too."""
    snap.write_snapshot(spark.range(5), table, key_cols=("id",))
    stray = os.path.join(table, "data", "NOTES.txt")
    with open(stray, "w") as f:
        f.write("operator note")
    orphan = os.path.join(table, "data", "snap-00001-feedbeef")
    spark.range(3).write.parquet(orphan)
    okeys = os.path.join(table, "keys", "snap-00001-feedbeef")
    spark.range(3).write.parquet(okeys)
    assert snap.gc_orphans(table, grace_s=3600.0) == []  # young: kept
    removed = set(snap.gc_orphans(table, grace_s=0.0))
    assert removed == {"snap-00001-feedbeef"}
    assert not os.path.isdir(orphan) and not os.path.isdir(okeys)
    assert os.path.isfile(stray)


def test_compact_and_expire(spark, table):
    """Compaction folds the live append chain into one replace snapshot with
    accounting; time travel to pre-compaction ids works until expire; expire
    reclaims superseded manifests + data dirs (Iceberg contract)."""
    for lo in (0, 30, 60):
        snap.write_snapshot(spark.range(lo, lo + 30).repartition(4), table)
    m = snap.compact_snapshots(spark, table, target_partitions=2, key_cols=("id",))
    assert m["mode"] == "replace" and m["rows"] == 90
    comp = m["metrics"]["compaction"]
    assert comp["compacted_snapshot_ids"] == [0, 1, 2]
    assert comp["files_before"] >= 12 and comp["files_after"] <= 2
    # one live snapshot; full state intact; resume uses the new keys table
    assert [x["snapshot_id"] for x in snap.live_snapshots(table)] == [3]
    assert snap.read_table(spark, table).count() == 90
    gap = snap.resume_gap(spark, spark.range(100).withColumnRenamed("id", "k").withColumnRenamed("k", "id"), table, "id")
    assert gap.count() == 10
    # pre-compaction time travel still live (dirs not yet reclaimed)
    assert snap.read_table(spark, table, as_of=1).count() == 60
    expired = snap.expire_snapshots(table, before_id=3)
    assert expired == [0, 1, 2]
    assert snap.read_table(spark, table).count() == 90
    assert snap.read_table(spark, table, as_of=1) is None  # expired, like Iceberg
    # superseded data dirs reclaimed, current one kept
    data_dirs = os.listdir(os.path.join(table, "data"))
    assert len(data_dirs) == 1 and data_dirs[0] == os.path.basename(m["data_dir"])


def test_many_file_snapshot_manifest_stays_bounded(spark, table):
    """A snapshot committing more files than INLINE_FILES_CAP keeps the JSON
    manifest bounded (no inline per-file list, no per-file driver collect);
    the per-file detail lives in the lineage parquet side table and still
    accounts for every row."""
    n_parts = snap.INLINE_FILES_CAP + 16
    m = snap.write_snapshot(spark.range(2000).repartition(n_parts), table)
    assert m["files"] is None
    assert m["files_count"] == n_parts
    assert m["rows"] == 2000
    # manifest JSON on disk is small regardless of file count
    mpath = os.path.join(table, "snapshots", "snap-00000.json")
    assert os.path.getsize(mpath) < 4096
    lin = snap.read_lineage(spark, table, 0)
    agg = lin.agg(F.count("*").alias("n"), F.sum("rows").alias("r")).collect()[0]
    assert (agg["n"], agg["r"]) == (n_parts, 2000)
    # small snapshots still inline the list AND expose it via read_lineage
    m2 = snap.write_snapshot(spark.range(10).coalesce(1), table)
    assert m2["files"] is not None and m2["files_count"] == len(m2["files"])
    assert snap.read_lineage(spark, table, 1).count() == m2["files_count"]
    # gc with live lineage dirs: nothing reclaimed
    assert snap.gc_orphans(table, grace_s=0.0) == []
    assert os.path.isdir(m["lineage_dir"])


def test_partition_rollup_in_manifest(spark, table):
    inp = spark.range(100).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 30, "2016-05-07").otherwise("2016-05-08").alias("date"),
    )
    m = snap.write_snapshot(inp, table, partition_by=("date",))
    assert m["partitions_truncated"] is False
    rollup = {p["date"]: p["rows"] for p in m["partitions"]}
    assert rollup == {"2016-05-07": 30, "2016-05-08": 70}


def test_cluster_by_layout_enables_file_pruning(spark, table):
    """cluster_by range-partitions + sorts the write, so every parquet file
    covers a DISJOINT cluster-key range with tight footer min/max stats: a
    point/range probe touches one file instead of the whole table — the
    100 TB spatial-scan pruning shape (cell-ID clustered layout)."""
    import pyarrow.parquet as pq

    inp = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") % 4096).alias("cell")
    )
    m = snap.write_snapshot(inp, table, cluster_by=("cell",), cluster_partitions=8)
    assert m["cluster_by"] == ["cell"]
    files = [
        os.path.join(m["data_dir"], f)
        for f in os.listdir(m["data_dir"])
        if f.endswith(".parquet")
    ]
    assert len(files) >= 4
    spans = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            rgm = md.row_group(rg)
            for i in range(rgm.num_columns):
                col = rgm.column(i)
                if col.path_in_schema == "cell":
                    mins.append(col.statistics.min)
                    maxs.append(col.statistics.max)
        spans.append((min(mins), max(maxs)))
    spans.sort()
    # disjoint file ranges (global clustering via repartitionByRange)
    for (_, a_hi), (b_lo, _) in zip(spans, spans[1:]):
        assert a_hi <= b_lo
    # a point probe's value lands inside exactly one file's span
    probe = 1234
    assert sum(1 for lo, hi in spans if lo <= probe <= hi) == 1
    # and the predicate reaches the parquet scan (footer stats get used)
    plan = (
        snap.read_table(spark, table)
        .filter(F.col("cell") == probe)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "cell" in plan


def test_upsert_inherits_partition_layout(spark, table):
    """Default upsert keeps the table's recorded partition_by: the replace
    snapshot must still be laid out on disk by date (ADVICE r3)."""
    inp = spark.range(40).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 20, "2016-05-07").otherwise("2016-05-08").alias("date"),
    )
    snap.write_snapshot(inp, table, partition_by=("date",), key_cols=("k",))
    batch = spark.createDataFrame([(5, "2016-05-07"), (50, "2016-05-09")], "k long, date string")
    m = snap.upsert_snapshot(batch, table, key_cols=("k",))
    assert m["mode"] == "replace" and m["partition_by"] == ["date"]
    # physical layout: hive-style date= dirs in the replace snapshot
    assert any(d.startswith("date=") for d in os.listdir(m["data_dir"]))
    assert snap.read_table(spark, table).count() == 41


def test_upsert_mor_and_delete_keys(spark, table):
    """Merge-on-read upsert/delete (Iceberg-v2 equality-delete shape): the
    upsert writes only its batch; readers reconcile; deleted keys fall back
    into the resume gap; compaction clears the delete debt; every pre-change
    state stays time-travelable."""
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, s string, v int"
    )
    m0 = snap.write_snapshot(base, table, key_cols=("k",))
    batch = spark.createDataFrame([(2, "b", 99), (4, "d", 40)], "k int, s string, v int")
    m1 = snap.upsert_snapshot_mor(batch, table, key_cols=("k",))
    assert m1["rows"] == 2 and m1["deletes_prior"]  # O(batch), not O(table)
    assert {(r.k, r.v) for r in snap.read_table(spark, table).collect()} == {
        (1, 10), (2, 99), (3, 30), (4, 40),
    }
    assert {
        (r.k, r.v)
        for r in snap.read_table(spark, table, as_of=m0["snapshot_id"]).collect()
    } == {(1, 10), (2, 20), (3, 30)}

    md = snap.delete_keys(spark, table, spark.createDataFrame([(1,)], "k int"), ("k",))
    assert md["mode"] == "delete" and md["rows"] == 0 and md["data_dir"] is None
    assert {(r.k, r.v) for r in snap.read_table(spark, table).collect()} == {
        (2, 99), (3, 30), (4, 40),
    }
    # resume: the deleted key is NOT committed anymore; 5 never was
    inp = spark.range(1, 6).select(F.col("id").cast("int").alias("k"))
    assert {r.k for r in snap.resume_gap(spark, inp, table, "k").collect()} == {1, 5}

    # re-inserting a deleted key via a later MoR upsert recommits it
    snap.upsert_snapshot_mor(
        spark.createDataFrame([(1, "a2", 11)], "k int, s string, v int"),
        table,
        key_cols=("k",),
    )
    assert {(r.k, r.v) for r in snap.read_table(spark, table).collect()} == {
        (1, 11), (2, 99), (3, 30), (4, 40),
    }
    assert {r.k for r in snap.resume_gap(spark, inp, table, "k").collect()} == {5}

    # compaction folds the log and clears the delete debt
    mc = snap.compact_snapshots(spark, table, key_cols=("k",), target_partitions=1)
    assert mc["mode"] == "replace"
    assert not any(m.get("deletes_prior") for m in snap.live_snapshots(table))
    assert {(r.k, r.v) for r in snap.read_table(spark, table).collect()} == {
        (1, 11), (2, 99), (3, 30), (4, 40),
    }
    # time travel to before the delete still shows the original key-1 row
    assert (1, 10) in {
        (r.k, r.v)
        for r in snap.read_table(spark, table, as_of=m1["snapshot_id"]).collect()
    }
    # gc with a data-less delete manifest in the log: nothing live reclaimed
    assert snap.gc_orphans(table, grace_s=0.0) == []


def test_mor_log_random_model(spark, table):
    """Model check: a seeded random interleaving of CoW writes, MoR upserts,
    MoR deletes, and a mid-sequence compaction must equal a plain dict model
    at every step (including after compaction clears the delete debt)."""
    import random

    rng = random.Random(42)
    model: dict[int, int] = {}

    def mk(rows):
        return spark.createDataFrame([(k, v) for k, v in rows], "k int, v int")

    # seed
    first = [(k, rng.randrange(1000)) for k in rng.sample(range(30), 10)]
    snap.write_snapshot(mk(first), table, key_cols=("k",))
    model.update(dict(first))

    for step in range(12):
        op = rng.choice(["upsert", "upsert", "delete", "compact"])
        if op == "upsert":
            batch = [(k, rng.randrange(1000)) for k in rng.sample(range(30), rng.randrange(1, 6))]
            snap.upsert_snapshot_mor(mk(batch), table, key_cols=("k",))
            model.update(dict(batch))
        elif op == "delete":
            if not model:
                continue
            ks = rng.sample(sorted(model), min(len(model), rng.randrange(1, 4)))
            snap.delete_keys(spark, table, mk([(k, 0) for k in ks]).select("k"), ("k",))
            for k in ks:
                model.pop(k)
        else:
            snap.compact_snapshots(spark, table, key_cols=("k",), target_partitions=1)
        got = {(r.k, r.v) for r in snap.read_table(spark, table).collect()}
        assert got == set(model.items()), f"step {step} op {op}"


def test_upsert_snapshot_merge_and_time_travel(spark, table):
    """Geostreams-upsert semantics: matched keys replaced, new keys inserted,
    unmatched rows carried forward; pre-upsert state stays time-travelable."""
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, s string, v int"
    )
    m0 = snap.upsert_snapshot(base, table, key_cols=("k",))
    assert m0["mode"] == "append"  # empty table -> plain insert

    batch = spark.createDataFrame(
        [(2, "b", 99), (4, "d", 40)], "k int, s string, v int"
    )
    m1 = snap.upsert_snapshot(batch, table, key_cols=("k",))
    assert m1["mode"] == "replace" and m1["rows"] == 4

    now = {(r.k, r.v) for r in snap.read_table(spark, table).collect()}
    assert now == {(1, 10), (2, 99), (3, 30), (4, 40)}

    # time travel to the pre-upsert snapshot still shows the original value
    before = {(r.k, r.v) for r in snap.read_table(spark, table, as_of=m0["snapshot_id"]).collect()}
    assert before == {(1, 10), (2, 20), (3, 30)}

    # a key appearing with MULTIPLE rows in the batch lands with all its rows
    multi = spark.createDataFrame(
        [(4, "d", 41), (4, "d2", 42)], "k int, s string, v int"
    )
    snap.upsert_snapshot(multi, table, key_cols=("k",))
    vals4 = sorted(
        r.v for r in snap.read_table(spark, table).filter(F.col("k") == 4).collect()
    )
    assert vals4 == [41, 42]
    assert snap.read_table(spark, table).count() == 5


def test_table_changes_append_fast_path(spark, table):
    m0 = snap.write_snapshot(spark.range(0, 5).withColumn("v", F.col("id")), table)
    m1 = snap.write_snapshot(spark.range(5, 8).withColumn("v", F.col("id")), table)
    m2 = snap.write_snapshot(spark.range(8, 9).withColumn("v", F.col("id")), table)
    ch = snap.table_changes(spark, table, m0["snapshot_id"], m2["snapshot_id"], ("id",))
    got = sorted((r.id, r.v, r._change) for r in ch.collect())
    assert got == [(i, i, "insert") for i in range(5, 9)]
    # fast path: the plan scans ONLY the delta snapshot dirs — no join
    plan = ch._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan
    files = ch.inputFiles()
    assert files and all(
        m1["data_dir"] in f or m2["data_dir"] in f for f in files
    )
    assert not any(m0["data_dir"] in f for f in files)


def test_table_changes_state_diff_semantics(spark, table):
    m0 = snap.write_snapshot(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c"), (4, "d")], "id long, v string"
        ),
        table,
        key_cols=("id",),
    )
    # upsert: 2 changed, 3 re-upserted IDENTICAL (must emit nothing), 9 new
    snap.upsert_snapshot_mor(
        spark.createDataFrame(
            [(2, "B"), (3, "c"), (9, "z")], "id long, v string"
        ),
        table,
        ("id",),
    )
    # delete: 4 present, 77 never present (must emit nothing)
    m2 = snap.delete_keys(
        spark,
        table,
        spark.createDataFrame([(4,), (77,)], "id long"),
        ("id",),
    )
    ch = snap.table_changes(spark, table, m0["snapshot_id"], m2["snapshot_id"], ("id",))
    got = sorted((r.id, r.v, r._change) for r in ch.collect())
    assert got == [
        (2, "B", "update_post"),
        (2, "b", "update_pre"),
        (4, "d", "delete"),
        (9, "z", "insert"),
    ]
    # applying the changes to the before-state reproduces the after-state
    after = {(r.id, r.v) for r in snap.read_table(spark, table).collect()}
    assert after == {(1, "a"), (2, "B"), (3, "c"), (9, "z")}


def test_table_changes_from_empty_and_replace(spark, table):
    m0 = snap.write_snapshot(
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"), table
    )
    m1 = snap.write_snapshot(
        spark.createDataFrame([(2, "B"), (5, "e")], "id long, v string"),
        table,
        mode="replace",
    )
    ch = snap.table_changes(spark, table, m0["snapshot_id"], m1["snapshot_id"], ("id",))
    got = sorted((r.id, r.v, r._change) for r in ch.collect())
    assert got == [
        (1, "a", "delete"),
        (2, "B", "update_post"),
        (2, "b", "update_pre"),
        (5, "e", "insert"),
    ]


def test_schema_evolution_on_read(spark, tmp_path):
    """Appending a snapshot with an added column reads as a superset
    schema with older rows null-filled (Iceberg add-column semantics);
    time travel before the evolution sees the old schema."""
    import pandas as pd

    from extractors_metadata_spark.sources.snapshot import (
        read_table,
        write_snapshot,
    )

    t = str(tmp_path / "evo")
    d1 = spark.createDataFrame(pd.DataFrame({"k": [1, 2], "v": [10, 20]}))
    m1 = write_snapshot(d1, t, "append")
    d2 = spark.createDataFrame(
        pd.DataFrame({"k": [3], "v": [30], "extra": ["x"]})
    )
    write_snapshot(d2, t, "append")
    out = read_table(spark, t)
    assert set(out.columns) == {"k", "v", "extra"}
    rows = {r.k: (r.v, r.extra) for r in out.collect()}
    assert rows == {1: (10, None), 2: (20, None), 3: (30, "x")}
    old = read_table(spark, t, as_of=m1["snapshot_id"])
    assert set(old.columns) == {"k", "v"}
