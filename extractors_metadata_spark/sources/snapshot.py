"""Iceberg-style snapshot tables: immutable data files + JSON manifests,
per-file lineage, and gap-only resume.

No Iceberg runtime jar ships in this sandbox (verified: pyspark/jars has none),
so the engine implements the snapshot *semantics* the north rule requires on
plain parquet:

- a table directory holds ``data/snap-NNNNN/`` immutable parquet dirs plus
  ``snapshots/snap-NNNNN.json`` manifests; readers derive the table state
  from the manifest list;
- each manifest records parent snapshot, row count, file count, a capped
  per-partition rollup, wall time and rows/sec, plus per-file row counts
  (file-level lineage, like Iceberg manifest entries). A snapshot of at most
  ``INLINE_FILES_CAP`` files takes them from its parquet footers (no Spark
  job) and inlines them in the JSON; only above the cap is the lineage
  computed distributed into a parquet SIDE TABLE (``lineage_dir``, see
  ``read_lineage``), so the manifest and the driver work building it stay
  bounded at any snapshot size (~10^6 files at 100 TB / 128 MB);
- a snapshot written with ``key_cols`` also gets a compact keys table
  (``keys_dir``, distinct key values). At most ``INLINE_FILES_CAP`` files
  holding at most ``DRIVER_KEYS_ROWS_CAP`` rows: built on the driver from the
  same footer pass (pyarrow reads and dedupes the key columns, one file), so
  a small append commits with ONE Spark job, the data write; above either
  cap: a distributed ``distinct`` written by Spark;
- ``resume_gap`` anti-joins the input against already-committed keys so a
  killed run reprocesses only the gap (reference analog: the repairer's
  "check outputs exist, redo only missing" loop,
  ``/root/reference/repairer/terra_repairer.py:41-66``, and the
  skip-if-already-processed gate ``terra_sensorposition.py:31-37``);
- ``replace`` snapshots supersede all parents (the reference's
  delete-then-reupload metadata cycle, ``terra_mdcleaner.py:64-67,93-94``);
- merge-on-read: ``upsert_snapshot_mor`` / ``delete_keys`` commit Iceberg-v2
  style equality-delete sets (``deletes_prior`` manifests) that readers
  reconcile — O(batch) mutation vs CoW's O(table) rewrite — and
  ``compact_snapshots`` clears the delete debt.

On a real cluster the same layout works on any Hadoop-compatible FS; commits
are atomic and exclusive: a manifest claims its snapshot id by create-if-absent
(``_commit_manifest``), so concurrent writers never replace each other's
commit.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# Per-file lineage stays INLINE in the JSON manifest (read from the parquet
# footers) at or below this file count; bigger snapshots record the detail in
# a parquet side table (``lineage_dir``). At 100 TB / 128 MB files a snapshot
# commits ~10^6 files — a JSON list that size (and the collect building it)
# would blow up the driver, so the manifest itself is bounded regardless of
# snapshot size.
INLINE_FILES_CAP = 64
# At or under INLINE_FILES_CAP files holding at most this many rows (footer
# total), the keys table is built on the driver in the same pass over the
# footers: pyarrow reads the key columns, dedupes them and writes one parquet
# file. That replaces the distributed ``distinct`` + write (2 Spark jobs, a
# shuffle, ~0.2 s per commit on 4 vCPUs). The driver build takes ~0.07 s at
# 100k url rows and ~0.6 s at 1M on one core, so above the bound the
# distributed path is the cheaper one.
DRIVER_KEYS_ROWS_CAP = 100_000
# Spark key types the driver-built keys table handles, as pyarrow type aliases.
# Floats are left out: Spark's distinct folds -0.0 into 0.0 and every NaN into
# one, pyarrow's group_by does not; other types take the distributed path.
_ARROW_KEY_TYPES = {
    "string": "string", "binary": "binary", "boolean": "bool", "date": "date32",
    "tinyint": "int8", "smallint": "int16", "int": "int32", "bigint": "int64",
}
# Per-partition rollup entries kept in the JSON manifest (a snapshot
# partitioned by e.g. date rarely exceeds this; ``partitions_truncated``
# flags when it does — no silent caps).
PARTITION_ROLLUP_CAP = 1024


def _snap_ids(table_path: str) -> list[int]:
    d = os.path.join(table_path, "snapshots")
    if not os.path.isdir(d):
        return []
    return sorted(
        int(f[5:-5]) for f in os.listdir(d) if f.startswith("snap-") and f.endswith(".json")
    )


def _load_manifest(table_path: str, snap_id: int) -> dict:
    with open(os.path.join(table_path, "snapshots", f"snap-{snap_id:05d}.json")) as f:
        return json.load(f)


def _files_count(manifest: dict) -> int:
    """File count for any manifest vintage (``files_count`` field, falling
    back to the inline per-file list for pre-side-table manifests)."""
    if manifest.get("files_count") is not None:
        return manifest["files_count"]
    return len(manifest.get("files") or [])


def _data_files(data_dir: str) -> list[str]:
    """Paths of the parquet files Spark reads under ``data_dir`` (partition
    subdirs included; hidden and ``_``-prefixed names skipped, as Spark's
    file index does)."""

    def hidden(name: str) -> bool:
        return name.startswith(".") or (name.startswith("_") and "=" not in name)

    out = []
    for root, dirs, names in os.walk(data_dir):
        dirs[:] = [d for d in dirs if not hidden(d)]
        out.extend(os.path.join(root, n) for n in names if not hidden(n))
    return out


def _keys_schema(schema: StructType, key_cols, partition_by):
    """pyarrow schema of ``key_cols`` when the driver can build the keys table
    from the committed files (every key column is stored in the files and has
    a type in ``_ARROW_KEY_TYPES``), else None."""
    import pyarrow as pa

    if not key_cols or set(key_cols) & set(partition_by):
        return None
    aliases = [_ARROW_KEY_TYPES.get(schema[c].dataType.simpleString()) for c in key_cols]
    if None in aliases:
        return None
    return pa.schema([pa.field(c, pa.type_for_alias(a)) for c, a in zip(key_cols, aliases)])


def _footer_lineage(spark: SparkSession, files: list[str], keys_schema=None):
    """(lineage, keys) from one pass over the committed parquet files.

    ``lineage``: per-file entries ``{"file", "rows"}`` from the footers,
    sorted by file; files holding no rows are left out. ``file`` is the
    qualified URI Spark's ``input_file_name()`` reports for that file.
    ``keys``: with ``keys_schema`` and at most ``DRIVER_KEYS_ROWS_CAP`` rows
    in all, the distinct values of its columns read from the same open files
    (a pyarrow Table, empty for a zero-row snapshot); otherwise None."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    Path = spark._jvm.org.apache.hadoop.fs.Path
    fs = Path(files[0]).getFileSystem(spark._jsc.hadoopConfiguration()) if files else None
    entries, parts, total = [], [], 0
    for f in files:
        with pq.ParquetFile(f) as pf:
            rows = pf.metadata.num_rows
            if not rows:
                continue
            total += rows
            if keys_schema is not None and total <= DRIVER_KEYS_ROWS_CAP:
                parts.append(pf.read(columns=keys_schema.names).cast(keys_schema))
        uri = fs.makeQualified(Path(f)).toUri().toString()
        entries.append({"file": uri, "rows": rows})
    keys = None
    if keys_schema is not None and total <= DRIVER_KEYS_ROWS_CAP:
        names = keys_schema.names
        keys = (
            pa.concat_tables([keys_schema.empty_table(), *parts])
            .group_by(names)
            .aggregate([])
            .select(names)
        )
    return sorted(entries, key=lambda e: e["file"]), keys


def read_lineage(
    spark: SparkSession, table_path: str, snap_id: int
) -> DataFrame | None:
    """Per-file lineage detail (file, rows) for one snapshot as a DataFrame —
    the scale-safe way to inspect manifest entries (the JSON manifest inlines
    the list only up to ``INLINE_FILES_CAP`` files)."""
    m = _load_manifest(table_path, snap_id)
    if m.get("lineage_dir") and os.path.isdir(m["lineage_dir"]):
        return spark.read.parquet(m["lineage_dir"])
    if m.get("files"):
        return spark.createDataFrame(
            [(e["file"], e["rows"]) for e in m["files"]], "file string, rows long"
        )
    return None


def live_snapshots(table_path: str) -> list[dict]:
    """Manifests contributing to the current table state (after the last
    'replace' snapshot, inclusive)."""
    manifests = [_load_manifest(table_path, i) for i in _snap_ids(table_path)]
    live: list[dict] = []
    for m in manifests:
        if m["mode"] == "replace":
            live = [m]
        else:
            live.append(m)
    return live


def write_snapshot(
    df: DataFrame,
    table_path: str,
    mode: str = "append",
    partition_by: tuple[str, ...] = (),
    metrics: dict | None = None,
    key_cols: tuple[str, ...] = (),
    cluster_by: tuple[str, ...] = (),
    cluster_partitions: int | None = None,
    deletes_prior: bool = False,
) -> dict:
    """Commit ``df`` as a new immutable snapshot; returns the manifest.

    ``metrics``: caller-supplied run accounting (e.g. a stream's batch id,
    or rows an operator capped — the no-silent-caps rule) recorded
    verbatim in the manifest under ``"metrics"``.

    Lineage: the committed files are read back once, with ``df``'s schema
    (no schema-inference job). At most ``INLINE_FILES_CAP`` files: the
    per-file row counts come from the parquet footers and are inlined as
    ``"files"``; ``"lineage_dir"`` is None. Above the cap: a distributed
    ``input_file_name()`` group-count is written to a parquet side table
    (``"lineage_dir"``) and ``"files"`` is None.

    ``key_cols``: when set, a COMPACT keys-only parquet (distinct values of
    these columns in the committed files) is written next to the data dir
    and recorded as ``"keys_dir"`` — ``resume_gap`` then anti-joins against
    the narrow keys table instead of scanning the full output (the
    10^12-row resume shape its docstring prescribes). At most
    ``INLINE_FILES_CAP`` files holding at most ``DRIVER_KEYS_ROWS_CAP`` rows,
    with key columns stored in the files and of a ``_ARROW_KEY_TYPES`` type:
    the driver reads the key columns in the footer pass, dedupes them with
    pyarrow and writes one file (schema-only for zero rows), so the commit
    runs one Spark job. Otherwise a distributed ``distinct`` of the committed
    files is written (two more jobs and a shuffle).

    ``cluster_by``: data-layout clustering (Iceberg SORTED BY analog) for
    scan pruning at scale. The rows are sorted WITHIN each output file on
    these columns before the parquet write, so every file's footer carries
    tight min/max column stats and a filtered read (e.g. a cell-ID range
    probe over a spatial table) skips whole files/row-groups instead of
    scanning 100 TB. With ``cluster_partitions`` set, the frame is first
    ``repartitionByRange`` on the cluster columns — one extra shuffle, but
    files then cover DISJOINT cluster-key ranges (global clustering: a point
    probe touches ~1 file); without it, only the per-file sort applies (no
    shuffle — each existing partition's files become prunable individually).
    ``compact_snapshots`` is the natural place to (re)cluster a table that
    accumulated unsorted appends.

    ``deletes_prior``: merge-on-read marker (requires ``key_cols``). The
    snapshot's compact keys table doubles as an EQUALITY-DELETE set over all
    EARLIER snapshots: readers drop any earlier row whose key appears in it
    (``read_table`` reconciles; this snapshot's own rows survive). This is
    the Iceberg-v2 equality-delete shape — an upsert writes O(batch) instead
    of CoW's O(table); ``compact_snapshots`` clears the delete debt. The
    marker rides in the SAME manifest as the data commit, so the
    append+delete pair is atomic."""
    assert mode in ("append", "replace")
    assert not deletes_prior or key_cols, "deletes_prior requires key_cols"
    if cluster_by:
        if cluster_partitions is not None:
            df = df.repartitionByRange(cluster_partitions, *cluster_by)
        df = df.sortWithinPartitions(*cluster_by)
    ids = _snap_ids(table_path)
    snap_id = (ids[-1] + 1) if ids else 0
    run_uuid = str(uuid.uuid4())
    # uuid-suffixed data dir: a run killed mid-parquet-write leaves an orphan
    # dir with NO manifest; since snap ids derive from manifests only, a naive
    # snap-NNNNN dir would collide on the resume and mode("error") would
    # deadlock the table. The manifest records the actual dir; orphans are
    # ignored by readers and reclaimed by ``gc_orphans``.
    data_dir = os.path.join(table_path, "data", f"snap-{snap_id:05d}-{run_uuid[:8]}")
    t0 = time.time()
    writer = df.write.mode("error")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(data_dir)
    elapsed = time.time() - t0

    spark = df.sparkSession
    # ONE read of the committed files, with the frame's known schema (no
    # schema-inference job); the distributed lineage, the partition rollup and
    # the distributed keys table all derive from it — never from the input
    # plan, since the manifest must reflect exactly what landed on disk.
    committed = spark.read.schema(df.schema).parquet(data_dir)
    files = _data_files(data_dir)
    lineage_dir = None
    keys = None
    if len(files) <= INLINE_FILES_CAP:
        # small snapshot: per-file row counts straight from the parquet
        # footers (driver-side metadata reads, no Spark job, no side table),
        # and under DRIVER_KEYS_ROWS_CAP rows the keys from the same files
        inline_files, keys = _footer_lineage(
            spark, files, _keys_schema(df.schema, key_cols, partition_by)
        )
        n_files = len(inline_files)
        total = sum(e["rows"] for e in inline_files)
    else:
        # File-level lineage computed DISTRIBUTED and written as a parquet
        # side table: the driver never collects one row per file. Above the
        # cap the list is never inlined: of the empty tasks only the first
        # writes a file, so at most one of these files holds no rows.
        lineage_dir = os.path.join(
            table_path, "lineage", f"snap-{snap_id:05d}-{run_uuid[:8]}"
        )
        committed.groupBy(F.input_file_name().alias("file")).agg(
            F.count("*").alias("rows")
        ).coalesce(1).write.mode("error").parquet(lineage_dir)
        n_files, total = (
            spark.read.schema("file string, rows long").parquet(lineage_dir)
            .agg(F.count("*"), F.sum("rows"))
            .collect()[0]
        )
        inline_files = None

    def _jsonable(v):
        return v if isinstance(v, (int, float, str, bool, type(None))) else str(v)

    partitions = None
    partitions_truncated = False
    if partition_by:
        # partition columns come from directory names and count(*) rides the
        # parquet footers, so this rollup scan reads no data columns
        prows = (
            committed.groupBy(*partition_by)
            .agg(F.count("*").alias("rows"))
            .orderBy(*partition_by)
            .limit(PARTITION_ROLLUP_CAP + 1)
            .collect()
        )
        partitions_truncated = len(prows) > PARTITION_ROLLUP_CAP
        partitions = [
            {
                **{c: _jsonable(r[c]) for c in partition_by},
                "rows": r["rows"],
            }
            for r in prows[:PARTITION_ROLLUP_CAP]
        ]
    keys_dir = None
    if key_cols:
        keys_dir = os.path.join(
            table_path, "keys", f"snap-{snap_id:05d}-{run_uuid[:8]}"
        )
        if keys is None:
            committed.select(*key_cols).distinct().write.mode("error").parquet(keys_dir)
        else:
            # one file, schema-only for a zero-row snapshot (readers that
            # infer the keys schema still find the columns)
            import pyarrow.parquet as pq

            os.makedirs(keys_dir)
            pq.write_table(keys, os.path.join(keys_dir, "part-00000.parquet"))
    manifest = {
        "snapshot_id": snap_id,
        "parent_id": ids[-1] if ids else None,
        "uuid": run_uuid,
        "mode": mode,
        "data_dir": data_dir,
        "rows": total,
        "files": inline_files,  # None above INLINE_FILES_CAP files
        "files_count": n_files,
        "lineage_dir": lineage_dir,  # None at or under INLINE_FILES_CAP files
        "partitions": partitions,
        "partitions_truncated": partitions_truncated,
        "wall_s": round(elapsed, 4),
        "rows_per_sec": round(total / elapsed, 2) if elapsed > 0 else None,
        "partition_by": list(partition_by),
        "cluster_by": list(cluster_by),
        "key_cols": list(key_cols),
        "deletes_prior": deletes_prior,
        "keys_dir": keys_dir,
        "metrics": metrics or {},
    }
    _commit_manifest(table_path, manifest)
    return manifest


def _commit_manifest(table_path: str, manifest: dict) -> None:
    """Publish a manifest under a snapshot id no other writer holds.

    The id is claimed by exclusive create: the fully written tmp file is
    hard-linked to ``snap-NNNNN.json``, which fails if that name exists (a
    rename would silently replace it). A writer that loses the race re-reads
    the ids and retries on the next one with the new parent, as in Iceberg's
    optimistic commit. ``manifest`` is updated in place."""
    snap_dir = os.path.join(table_path, "snapshots")
    os.makedirs(snap_dir, exist_ok=True)
    tmp = os.path.join(snap_dir, f".tmp-{manifest['uuid']}.json")
    while True:
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        final = os.path.join(snap_dir, f"snap-{manifest['snapshot_id']:05d}.json")
        try:
            os.link(tmp, final)  # atomic, exclusive commit
            break
        except FileExistsError:
            ids = _snap_ids(table_path)
            manifest["snapshot_id"] = ids[-1] + 1
            manifest["parent_id"] = ids[-1]
    os.remove(tmp)


def gc_orphans(table_path: str, grace_s: float = 300.0) -> list[str]:
    """Remove data dirs no manifest references (debris of mid-write kills).

    SINGLE-WRITER assumption: an IN-FLIGHT ``write_snapshot`` has its data dir
    on disk before the manifest commit, so a concurrent gc would delete the
    live writer's output. Run gc only when no writer is active (readers are
    always safe: a dir becomes visible only via its manifest, which is linked
    into place strictly after the parquet write completes). ``grace_s`` skips
    dirs modified within the last N seconds as an extra belt against clock-
    adjacent writers — it defaults to 5 minutes so a gc fired while a writer
    is unexpectedly active skips anything recent by default; pass 0.0 only
    when the single-writer assumption is positively known to hold (e.g. an
    offline maintenance window, or the test suite). Stray non-directory files
    under data/ are left alone."""
    import shutil

    data_root = os.path.join(table_path, "data")
    if not os.path.isdir(data_root):
        return []
    manifests = [_load_manifest(table_path, i) for i in _snap_ids(table_path)]
    live = {
        os.path.basename(m["data_dir"]) for m in manifests if m.get("data_dir")
    }
    live_keys = {
        os.path.basename(m["keys_dir"]) for m in manifests if m.get("keys_dir")
    }
    live_lineage = {
        os.path.basename(m["lineage_dir"])
        for m in manifests
        if m.get("lineage_dir")
    }
    removed = []
    now = time.time()
    for root, live_set in (
        (data_root, live),
        (os.path.join(table_path, "keys"), live_keys),
        (os.path.join(table_path, "lineage"), live_lineage),
    ):
        if not os.path.isdir(root):
            continue
        for d in os.listdir(root):
            full = os.path.join(root, d)
            if d in live_set or not os.path.isdir(full):
                continue
            if now - os.path.getmtime(full) < grace_s:
                continue
            shutil.rmtree(full)
            removed.append(d)
    return removed


def compact_snapshots(
    spark: SparkSession,
    table_path: str,
    partition_by: tuple[str, ...] = (),
    key_cols: tuple[str, ...] = (),
    target_partitions: int | None = None,
    cluster_by: tuple[str, ...] = (),
) -> dict | None:
    """Rewrite the current table state as ONE 'replace' snapshot.

    The streaming path appends a snapshot per micro-batch — at 100 TB that is
    the classic small-file problem (every reader pays per-file open cost and
    the resume anti-join unions ever more dirs). Compaction folds the live
    set into a single snapshot; prior snapshots stay on disk and readable via
    ``as_of`` time travel until ``expire_snapshots`` reclaims them. The
    manifest records what was compacted (``metrics.compacted_snapshot_ids``,
    files before/after). Returns the new manifest, or None on an empty table.

    ``target_partitions``: coalesce the rewrite to this many output files
    (e.g. total_bytes / 512 MB on a real table); default leaves Spark's
    partitioning as-is.

    ``cluster_by``: re-cluster the rewrite on these columns (range partition
    to ``target_partitions`` when given, + in-file sort — see
    ``write_snapshot``); compaction is the natural moment to restore a sorted
    layout over a table that accumulated unsorted streaming appends.
    """
    live = live_snapshots(table_path)
    if not any(m["rows"] > 0 for m in live):
        return None
    df = read_table(spark, table_path)
    if target_partitions is not None and not cluster_by:
        df = df.coalesce(target_partitions)
    files_before = sum(_files_count(m) for m in live)
    manifest = write_snapshot(
        df, table_path, mode="replace", partition_by=partition_by,
        key_cols=key_cols, cluster_by=cluster_by,
        cluster_partitions=(target_partitions if cluster_by else None),
        metrics={
            "compaction": {
                "compacted_snapshot_ids": [m["snapshot_id"] for m in live],
                "files_before": files_before,
            }
        },
    )
    manifest["metrics"]["compaction"]["files_after"] = _files_count(manifest)
    # re-persist the enriched manifest (same id, atomic swap)
    snap_dir = os.path.join(table_path, "snapshots")
    tmp = os.path.join(snap_dir, f".tmp-{manifest['uuid']}-m.json")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.rename(tmp, os.path.join(snap_dir, f"snap-{manifest['snapshot_id']:05d}.json"))
    return manifest


def expire_snapshots(
    table_path: str, before_id: int, grace_s: float = 0.0
) -> list[int]:
    """Iceberg-style expire: drop manifests with id < ``before_id`` that no
    longer contribute to the CURRENT state, then reclaim their data/keys/
    lineage dirs via ``gc_orphans``. Time travel to expired ids stops working
    (exactly Iceberg's contract); expiring a snapshot the current state still
    reads from is refused. Expire already requires the single-writer
    assumption (it deletes manifests), so the gc grace defaults to 0 here —
    raise ``grace_s`` if a writer might be racing."""
    live_ids = {m["snapshot_id"] for m in live_snapshots(table_path)}
    expired = []
    for i in _snap_ids(table_path):
        if i >= before_id or i in live_ids:
            continue
        os.remove(os.path.join(table_path, "snapshots", f"snap-{i:05d}.json"))
        expired.append(i)
    if expired:
        gc_orphans(table_path, grace_s=grace_s)
    return expired


def read_table(
    spark: SparkSession, table_path: str, as_of: int | None = None
) -> DataFrame | None:
    """Table state = union of live snapshots' data dirs, reconciled against
    any merge-on-read delete sets (``deletes_prior`` manifests).

    ``as_of``: time travel — read the state as of that snapshot id (inclusive),
    exactly like Iceberg's snapshot-id reads: replays the append/replace/
    delete log up to that point."""
    manifests = [_load_manifest(table_path, i) for i in _snap_ids(table_path)]
    if as_of is not None:
        manifests = [m for m in manifests if m["snapshot_id"] <= as_of]
    live: list[dict] = []
    for m in manifests:
        if m["mode"] == "replace":
            live = [m]
        else:
            live.append(m)
    if not live:
        return None
    datas = [(ord_, m) for ord_, m in enumerate(live) if m["rows"] > 0]
    deletes = [
        (ord_, m) for ord_, m in enumerate(live) if m.get("deletes_prior")
    ]
    if not datas:
        return None
    if not deletes:
        # fast path: plain union — per-dir reads so snapshots written with
        # partitionBy keep their partition columns discoverable (a single
        # multi-path read would fail basePath inference across snap roots)
        # allowMissingColumns = schema evolution on read: a snapshot written
        # after an added column unions with older snapshots null-filled
        # (Iceberg add-column semantics); dropped columns null-fill the
        # other way. Same-schema reads are unaffected.
        out = spark.read.parquet(datas[0][1]["data_dir"])
        for _, m in datas[1:]:
            out = out.unionByName(
                spark.read.parquet(m["data_dir"]), allowMissingColumns=True
            )
        return out
    # merge-on-read reconciliation: a row from snapshot ordinal j is dead iff
    # some delete set at ordinal > j contains its key. One equi-join against
    # the aggregated (key -> max delete ordinal) frame — delete sets are
    # narrow keys tables, so Catalyst auto-broadcasts them while small; the
    # delete debt is cleared wholesale by compact_snapshots.
    kc = deletes[0][1]["key_cols"]
    assert all(
        m["key_cols"] == kc for _, m in deletes
    ), "merge-on-read delete sets must share key_cols"
    out = None
    for ord_, m in datas:
        part = spark.read.parquet(m["data_dir"]).withColumn(
            "_snap_ord", F.lit(ord_)
        )
        out = (
            part
            if out is None
            else out.unionByName(part, allowMissingColumns=True)
        )
    dels = None
    for ord_, m in deletes:
        dd = spark.read.parquet(m["keys_dir"]).withColumn("_del_ord", F.lit(ord_))
        dels = dd if dels is None else dels.unionByName(dd)
    dels_agg = dels.groupBy(*kc).agg(F.max("_del_ord").alias("_max_del_ord"))
    return (
        out.join(dels_agg, list(kc), "left")
        .filter(
            F.col("_max_del_ord").isNull()
            | (F.col("_max_del_ord") <= F.col("_snap_ord"))
        )
        .drop("_max_del_ord", "_snap_ord")
    )


def upsert_snapshot_mor(
    df: DataFrame,
    table_path: str,
    key_cols: tuple[str, ...],
    partition_by: tuple[str, ...] | None = None,
    metrics: dict | None = None,
) -> dict:
    """Merge-on-read upsert: append ``df`` with its keys marked as an
    equality-delete set over all prior snapshots (``deletes_prior``) — the
    Iceberg-v2 MERGE shape. Writes O(batch) where ``upsert_snapshot`` (CoW)
    rewrites O(table); reads pay one reconciling join until
    ``compact_snapshots`` folds the log (which clears the delete debt because
    ``read_table`` resolves it during the rewrite). Same key-uniqueness
    contract as the CoW upsert; time travel sees every pre-upsert state.
    ``partition_by=None`` inherits the live layout (as ``upsert_snapshot``)."""
    if partition_by is None:
        live = live_snapshots(table_path)
        partition_by = tuple(live[-1].get("partition_by") or ()) if live else ()
    return write_snapshot(
        df,
        table_path,
        "append",
        partition_by,
        metrics,
        key_cols,
        deletes_prior=True,
    )


def delete_keys(
    spark: SparkSession,
    table_path: str,
    keys_df: DataFrame,
    key_cols: tuple[str, ...],
) -> dict:
    """Pure merge-on-read DELETE: commit a data-less snapshot whose keys
    table is an equality-delete set over all prior snapshots (the reference's
    metadata-delete, S11, without rewriting the table — ``write_snapshot``
    mode='replace' remains the CoW path). Readers reconcile; resume_gap
    treats deleted keys as NOT committed (they reprocess); compaction
    physically drops the dead rows."""
    ids = _snap_ids(table_path)
    snap_id = (ids[-1] + 1) if ids else 0
    run_uuid = str(uuid.uuid4())
    keys_dir = os.path.join(table_path, "keys", f"snap-{snap_id:05d}-{run_uuid[:8]}")
    t0 = time.time()
    keys_df.select(*key_cols).distinct().write.mode("error").parquet(keys_dir)
    manifest = {
        "snapshot_id": snap_id,
        "parent_id": ids[-1] if ids else None,
        "uuid": run_uuid,
        "mode": "delete",
        "data_dir": None,
        "rows": 0,
        "files": [],
        "files_count": 0,
        "lineage_dir": None,
        "partitions": None,
        "partitions_truncated": False,
        "wall_s": round(time.time() - t0, 4),
        "rows_per_sec": None,
        "partition_by": [],
        "cluster_by": [],
        "key_cols": list(key_cols),
        "deletes_prior": True,
        "keys_dir": keys_dir,
        "metrics": {},
    }
    _commit_manifest(table_path, manifest)
    return manifest


def upsert_snapshot(
    df: DataFrame,
    table_path: str,
    key_cols: tuple[str, ...],
    partition_by: tuple[str, ...] | None = None,
    metrics: dict | None = None,
) -> dict:
    """Geostreams-style upsert (the reference sink updates-or-inserts a
    datapoint per (stream, time) — ``terra_sensorposition.py`` via
    pyclowder's geostreams POST): every current row whose ``key_cols`` value
    appears in ``df`` is REPLACED by df's rows for that key; unmatched
    current rows carry forward; new keys insert. Committed as ONE 'replace'
    snapshot — copy-on-write MERGE semantics on the immutable snapshot log,
    so time travel (``read_table(as_of=...)``) still sees every pre-upsert
    state, exactly like Iceberg CoW MERGE INTO.

    Scale note: this rewrites the table (CoW). At 10^12 rows, partition the
    table on a key prefix (``partition_by``) and batch upserts so each run
    touches a bounded key range; a merge-on-read variant (delete files +
    reconciling reader) is the next step if upserts dominate the workload —
    the snapshot log's manifest structure already supports adding it.

    ``partition_by=None`` (the default) inherits the layout recorded in the
    latest live manifest, so an upsert can never silently flatten a
    partitioned table's layout (which would defeat partition pruning on
    later filtered reads); pass an explicit tuple (possibly
    ``()``) to deliberately re-layout in the replace snapshot.
    """
    spark = df.sparkSession
    if partition_by is None:
        live = live_snapshots(table_path)
        partition_by = tuple(live[-1].get("partition_by") or ()) if live else ()
    current = read_table(spark, table_path)
    if current is None:
        return write_snapshot(
            df, table_path, "append", partition_by, metrics, key_cols
        )
    keys = df.select(*key_cols).distinct()
    kept = current.join(keys, list(key_cols), "left_anti")
    merged = kept.unionByName(df)
    return write_snapshot(
        merged, table_path, "replace", partition_by, metrics, key_cols
    )


def table_changes(
    spark: SparkSession,
    table_path: str,
    from_id: int,
    to_id: int,
    key_cols: tuple[str, ...],
) -> DataFrame:
    """Row-level CDC between two snapshot ids (the Iceberg
    ``table_changes`` analog): the change rows that turn
    ``read_table(as_of=from_id)`` into ``read_table(as_of=to_id)``, as the
    table's columns plus ``_change`` in {insert, delete, update_pre,
    update_post} (updates emit the pre/post PAIR, like Delta CDF).

    Two physical strategies, chosen from the manifest log alone (no data
    read to decide):

    - FAST PATH — every snapshot in ``(from_id, to_id]`` is a pure append
      (no replace, no merge-on-read delete set): the changes ARE the delta
      dirs, read directly and labeled ``insert``.  O(changed rows); the
      table states are never materialized — this is the path an hourly
      downstream incremental consumer lives on at 100 TB.
    - STATE DIFF — any replace/upsert/delete in the window: one full-outer
      join of the two time-travel states on ``key_cols`` (co-partitioned
      single shuffle; both sides are narrow-scanned by Catalyst to the
      referenced columns).  Unchanged rows (key present in both states
      with null-safe-equal values) emit nothing, so a no-op upsert is
      invisible — semantics depend only on the states, never on how the
      log happened to encode them.

    PRECONDITION (same as the upsert contract): ``key_cols`` uniquely key
    each state.  Reference analog: the cleaner's delete-then-reupload cycle
    (``/root/reference/mdcleaner/terra_mdcleaner.py:64-67,93-94``) is
    exactly a replace whose effective row-level delta this computes.
    """
    ids = _snap_ids(table_path)
    if not ids:
        raise ValueError(f"no snapshots under {table_path}")
    window = [_load_manifest(table_path, i) for i in ids if from_id < i <= to_id]
    if window and all(
        m["mode"] == "append" and not m.get("deletes_prior") for m in window
    ):
        out = None
        for m in window:
            if m["rows"] <= 0:
                continue
            part = spark.read.parquet(m["data_dir"])
            out = part if out is None else out.unionByName(part)
        if out is not None:
            return out.withColumn("_change", F.lit("insert"))
    before = read_table(spark, table_path, as_of=from_id)
    after = read_table(spark, table_path, as_of=to_id)
    ref = after if after is not None else before
    if ref is None:
        raise ValueError("both snapshot states are empty — nothing to diff")
    cols = ref.columns
    vcols = [c for c in cols if c not in key_cols]

    def _side(df: DataFrame, name: str) -> DataFrame:
        if df is None:
            df = spark.createDataFrame([], ref.schema)
        payload = F.struct(*[F.col(c) for c in vcols]) if vcols else F.lit(0)
        return df.select(
            *key_cols,
            payload.alias(f"_{name}v"),
            F.lit(True).alias(f"_{name}p"),
        )

    j = _side(before, "b").join(_side(after, "a"), list(key_cols), "full_outer")
    differs = (
        ~F.col("_av").eqNullSafe(F.col("_bv")) if vcols else F.lit(False)
    )
    ins = F.array(
        F.struct(F.lit("insert").alias("c"), F.col("_av").alias("v"))
    )
    dele = F.array(
        F.struct(F.lit("delete").alias("c"), F.col("_bv").alias("v"))
    )
    upd = F.array(
        F.struct(F.lit("update_pre").alias("c"), F.col("_bv").alias("v")),
        F.struct(F.lit("update_post").alias("c"), F.col("_av").alias("v")),
    )
    events = (
        F.when(F.col("_bp").isNull(), ins)
        .when(F.col("_ap").isNull(), dele)
        .when(differs, upd)
        .otherwise(F.slice(ins, 1, 0))  # typed empty array: no change
    )
    exploded = j.select(*key_cols, F.explode(events).alias("_e"))
    val_cols = (
        [F.col(f"_e.v.{c}").alias(c) for c in vcols] if vcols else []
    )
    return exploded.select(
        *key_cols, *val_cols, F.col("_e.c").alias("_change")
    ).select(*cols, "_change")


def resume_gap(
    spark: SparkSession,
    input_df: DataFrame,
    table_path: str,
    key_col: str,
) -> DataFrame:
    """Rows of ``input_df`` whose key is not yet committed (anti-join).

    Scale path, in preference order (reference analog: skip-if-processed,
    terra_sensorposition.py:31-37):

    1. if EVERY live snapshot was written with ``key_cols`` covering
       ``key_col``, the anti-join reads the COMPACT keys tables only — the
       full output (wide rows, 10^12 scale) is never scanned on resume. The
       keys are read with ``input_df``'s key type (no schema inference, so
       planning launches no Spark job); without delete sets, all keys
       tables are one multi-path scan;
    2. otherwise the full table's distinct keys are read.
    """
    live = live_snapshots(table_path)
    if not live:
        return input_df
    keyed = [(o, m) for o, m in enumerate(live) if m["rows"] > 0]
    deletes = [
        (o, m)
        for o, m in enumerate(live)
        if m.get("deletes_prior") and m.get("keys_dir")
    ]
    if (
        keyed
        and all(
            m.get("keys_dir") and key_col in m.get("key_cols", [])
            for _, m in keyed
        )
        and all(key_col in m.get("key_cols", []) for _, m in deletes)
    ):
        # the key column's type comes from input_df, so reading the keys
        # tables launches no schema-inference job at planning time
        key_schema = StructType([input_df.schema[key_col]])

        def read_keys(dirs: list[str]) -> DataFrame:
            return spark.read.schema(key_schema).parquet(*dirs)

        if deletes:
            # merge-on-read: a key counts as committed only if its latest
            # data snapshot is not superseded by a later delete set —
            # deleted keys fall back into the gap and reprocess
            def latest(snaps, name):
                """key -> highest live ordinal of ``snaps`` holding it."""
                return reduce(
                    DataFrame.unionByName,
                    [
                        read_keys([m["keys_dir"]]).withColumn("_o", F.lit(o))
                        for o, m in snaps
                    ],
                ).groupBy(key_col).agg(F.max("_o").alias(name))

            committed = (
                latest(keyed, "_ko")
                .join(latest(deletes, "_do"), key_col, "left")
                .filter(F.col("_do").isNull() | (F.col("_do") <= F.col("_ko")))
                .select(key_col)
            )
        else:
            # append-only: one multi-path scan over every live keys table
            committed = read_keys([m["keys_dir"] for _, m in keyed])
        return input_df.join(committed, key_col, "left_anti")
    existing = read_table(spark, table_path)
    if existing is None:
        return input_df
    return input_df.join(existing.select(key_col).distinct(), key_col, "left_anti")


def run_incremental(
    spark: SparkSession,
    input_df: DataFrame,
    table_path: str,
    key_col: str,
    transform,
    partition_by: tuple[str, ...] = (),
) -> dict:
    """Idempotent stage runner: process only the gap, commit a snapshot.

    ``transform``: DataFrame -> DataFrame (must preserve ``key_col``).
    Re-running after a kill (or running twice) never duplicates keys.
    """
    todo = resume_gap(spark, input_df, table_path, key_col)
    out = transform(todo)
    return write_snapshot(out, table_path, "append", partition_by)


def diff_snapshots(
    spark: SparkSession,
    table_path: str,
    v_old: int,
    v_new: int,
    key_cols: tuple[str, ...],
) -> DataFrame:
    """Row-level diff between two snapshot versions — the Iceberg
    changelog / CDC-read shape: what would a consumer that last saw
    ``v_old`` have to apply to reach ``v_new``?

    Returns (change, *key_cols) with change in {'added', 'removed',
    'changed'}: keys only in v_new are added, only in v_old removed,
    present in both with ANY non-key column differing are changed
    (null-safe comparison via eqNullSafe; unchanged keys are dropped —
    the diff is sparse by design).

    Plan: two time-travel reads -> ONE full-outer key join with
    presence flags (the q_full_outer reconciliation shape applied to
    the table's own history); non-key comparison happens inside the
    join projection, so nothing but the join shuffles. Cost is
    O(v_old + v_new) scan + one key-partitioned Exchange — at 10^12
    rows prefer partition-pruned diffs (pass the partition filter down
    via read_table's partition layout) or MoR delete-set inspection;
    this is the exact, general fallback.
    """
    old = read_table(spark, table_path, as_of=v_old)
    new = read_table(spark, table_path, as_of=v_new)
    if old is None or new is None:
        raise ValueError("both snapshot versions must exist and be nonempty")
    keys = list(key_cols)
    val_cols = [c for c in new.columns if c not in keys]
    o = old.select(
        *keys,
        F.struct(*[F.col(c) for c in val_cols]).alias("_vo"),
        F.lit(1).alias("_po"),
    )
    n = new.select(
        *keys,
        F.struct(*[F.col(c) for c in val_cols]).alias("_vn"),
        F.lit(1).alias("_pn"),
    )
    j = o.join(n, keys, "full_outer")
    change = (
        F.when(F.col("_po").isNull(), "added")
        .when(F.col("_pn").isNull(), "removed")
        .when(~F.col("_vo").eqNullSafe(F.col("_vn")), "changed")
    )
    return (
        j.select(change.alias("change"), *keys)
        .filter(F.col("change").isNotNull())
    )
