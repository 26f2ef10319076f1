"""Cleaner/repairer DAG config dims and remap-join operators.

Reference parity (all pure-codegen Spark — literal maps compile to JVM
expressions, the remap join is a plain equi-join Catalyst can reorder):

- J5 lv1_types dataset-name -> raw-equivalent remap
  (``/root/reference/cleaner/terra_mdcleaner.py:52-62``: derived products like
  "RGB GeoTIFFs - <ts>" fetch their metadata from the raw dataset
  "stereoTop - <ts>");
- sensor -> callback-extractor dims + per-callback fan-out
  (``terra_mdcleaner.py:96-107,127-140``; ``terra_repairer.py:136-152``);
- sensor -> target-file-suffix dims + all-targets completeness
  (``terra_repairer.py:39-49,154-168``);
- files_created URL explode -> existence probe -> repair set
  (``terra_repairer.py:52-84``: each recorded output URL's file id must still
  resolve to an existing file, else the dataset re-enters the queue).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

# --- reference config dims (terra_mdcleaner.py / terra_repairer.py literals) ---

LV1_TYPES = {
    "RGB GeoTIFFs": "stereoTop",
    "Thermal IR GeoTIFFs": "flirIrCamera",
}  # terra_mdcleaner.py:52-54

UNCLEANABLES = ("Full Field",)  # terra_mdcleaner.py:46-49

CLEANER_CALLBACKS = {
    "stereoTop": ["terra.stereo-rgb.bin2tif"],
    "flirIrCamera": ["terra.multispectral.flir2tif"],
    "scanner3DTop": ["terra.3dscanner.ply2las"],
}  # terra_mdcleaner.py:127-140

REPAIRER_CALLBACKS = {
    "stereoTop": ["terra.stereo-rgb.bin2tif", "terra.metadata.sensorposition"],
    "flirIrCamera": ["terra.multispectral.flir2tif", "terra.metadata.sensorposition"],
    "scanner3DTop": [
        "terra.3dscanner.ply2las",
        "terra.3dscanner.heightmap",
        "terra.metadata.sensorposition",
    ],
}  # terra_repairer.py:136-152

TARGETS = {
    "stereoTop": ["_left.bin", "_right.bin"],
    "flirIrCamera": ["_ir.bin"],
    "scanner3DTop": [],
}  # terra_repairer.py:154-168

def _str_map(d: dict[str, str]) -> F.Column:
    pairs: list[F.Column] = []
    for k, v in d.items():
        pairs += [F.lit(k), F.lit(v)]
    return F.create_map(*pairs)


# --- J5: lv1-name remap ----------------------------------------------------------


def with_raw_equiv(
    df: DataFrame, name_col: str = "name", lv1_types: dict[str, str] = LV1_TYPES
) -> DataFrame:
    """Adds sensor_type / raw_sensor / raw_name columns to a dataset-name frame.

    Name format is the reference's ``"<sensor> - <timestamp>"``
    (terra_mdcleaner.py:44). ``raw_name`` rebuilds the name with the lv1-mapped
    sensor prefix — equivalent to the reference's first-occurrence
    ``name.replace(sensor_type, lv1_types[sensor_type])`` because the sensor is
    the prefix before the first " - ". Sensors outside the dim map to
    themselves (raw_name == name), matching the else-branch at :60-62.
    """
    parts = F.split(F.col(name_col), " - ", 2)
    sensor = F.element_at(parts, 1)
    raw_sensor = F.coalesce(F.element_at(_str_map(lv1_types), sensor), sensor)
    return (
        df.withColumn("sensor_type", sensor)
        .withColumn("raw_sensor", raw_sensor)
        .withColumn(
            "raw_name", F.concat(raw_sensor, F.lit(" - "), F.element_at(parts, 2))
        )
    )


def lv1_remap_join(
    derived: DataFrame,
    raw: DataFrame,
    name_col: str = "name",
    raw_name_col: str = "raw_name",
    how: str = "inner",
    lv1_types: dict[str, str] = LV1_TYPES,
) -> DataFrame:
    """The J5 join: derived datasets pull metadata from their raw equivalent.

    ``raw`` must carry ``raw_name_col`` as a unique key (dataset names are
    unique in the reference's store). Plain equi-join on the remapped name —
    at scale both sides shuffle on the name key unless one is broadcastable;
    no hint here so AQE picks the strategy from runtime sizes.
    """
    d = with_raw_equiv(derived, name_col, lv1_types).filter(
        ~F.col("sensor_type").isin(*UNCLEANABLES)
    )
    return d.join(raw, d["raw_name"] == raw[raw_name_col], how).drop(raw[raw_name_col])


# --- callback fan-out --------------------------------------------------------------


def callback_fanout(
    df: DataFrame,
    sensor_col: str = "raw_sensor",
    callback: str = "",
    callbacks: dict[str, list[str]] = CLEANER_CALLBACKS,
    out_col: str = "callback",
) -> DataFrame:
    """One downstream-trigger row per (dataset, callback extractor).

    An explicit ``callback`` overrides the dim (the reference's --callback
    arg, terra_mdcleaner.py:96-99); otherwise the sensor's callback list fans
    out (:100-107). Sensors with no dim entry emit no rows — the reference
    only logs "No default callback found". Pure codegen: the dim is a literal
    map<string, array<string>>; ``explode`` of a null array yields nothing, so
    no join and no shuffle.
    """
    if callback:
        return df.withColumn(out_col, F.lit(callback))
    pairs: list[F.Column] = []
    for k, v in callbacks.items():
        pairs += [F.lit(k), F.array(*[F.lit(c) for c in v])]
    cbs = F.element_at(F.create_map(*pairs), F.col(sensor_col))
    return df.withColumn(out_col, F.explode(cbs))


# --- repairer: target completeness + files_created probe -----------------------------


def targets_complete(
    spark: SparkSession,
    files: DataFrame,
    dataset_col: str = "dataset",
    sensor_col: str = "sensor",
    filename_col: str = "filename",
    targets: dict[str, list[str]] = TARGETS,
) -> DataFrame:
    """Per dataset: are all of its sensor's target file suffixes present?

    The reference's existing_files loop (terra_repairer.py:41-49): a dataset
    is complete when every target suffix matches some filename. Zero-target
    sensors (scanner3DTop) are vacuously complete. Shape: broadcast
    (sensor, suffix) dim -> endswith theta join -> distinct suffixes found ->
    count == expected. Output: (dataset, sensor, n_found, n_targets, complete).
    """
    tgt_rows = [(s, t) for s, ts in targets.items() for t in ts]
    tdim = spark.createDataFrame(tgt_rows, "sensor string, suffix string")
    ndim = spark.createDataFrame(
        [(s, len(ts)) for s, ts in targets.items()], "sensor string, n_targets int"
    )
    ds = files.select(
        F.col(dataset_col).alias("dataset"), F.col(sensor_col).alias("sensor")
    ).distinct()
    found = (
        files.join(
            broadcast(tdim),
            (files[sensor_col] == tdim["sensor"])
            & F.col(filename_col).endswith(tdim["suffix"]),
        )
        .select(F.col(dataset_col).alias("dataset"), "suffix")
        .distinct()
        .groupBy("dataset")
        .agg(F.count(F.lit(1)).alias("n_found"))
    )
    return (
        ds.join(broadcast(ndim), "sensor", "left")
        .join(found, "dataset", "left")
        .select(
            "dataset",
            "sensor",
            F.coalesce("n_found", F.lit(0)).cast("long").alias("n_found"),
            F.coalesce("n_targets", F.lit(0)).cast("int").alias("n_targets"),
            (
                F.coalesce("n_found", F.lit(0)) == F.coalesce("n_targets", F.lit(0))
            ).alias("complete"),
        )
    )


def files_created_repair_set(
    md: DataFrame,
    inventory: DataFrame,
    dataset_col: str = "dataset",
    files_created_col: str = "files_created",
    file_id_col: str = "file_id",
) -> DataFrame:
    """Datasets whose recorded outputs reference a file that no longer exists.

    The reference's validity probe (terra_repairer.py:59-66): explode each
    dataset's files_created URLs, take the trailing path segment as the file
    id, and anti-join against the live file inventory — any miss marks the
    whole dataset for repair (delete metadata + re-trigger, :66-84).
    Output: distinct (dataset) rows — the repair set.
    """
    exploded = md.select(
        F.col(dataset_col).alias("dataset"),
        F.explode(files_created_col).alias("url"),
    ).withColumn(file_id_col, F.element_at(F.split(F.col("url"), "/"), -1))
    missing = exploded.join(
        inventory.select(file_id_col).distinct(), file_id_col, "left_anti"
    )
    return missing.select("dataset").distinct()
