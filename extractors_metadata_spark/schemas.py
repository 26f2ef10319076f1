"""Engine table schemas (fixed StructTypes; dynamic metadata carried as maps).

The input table shape is mandated by BASELINE.json ``input_hint``:
(url:string, warc_ts:timestamp, html:binary, text:string, lang:string).
The embedded sensor metadata document mirrors
``/root/reference/sensorposition/test.json`` (all leaf values strings, typos
preserved) and is parsed as map<string,string> sections per SURVEY.md D3.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BinaryType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

WEBPAGES = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

# D3: LemnaTec-style nested metadata; known core declared, variable keys as maps.
SS = StringType()
LEMNATEC_MD = StructType(
    [
        StructField(
            "lemnatec_measurement_metadata",
            StructType(
                [
                    StructField("user_given_metadata", MapType(SS, SS), True),
                    StructField("gantry_system_fixed_metadata", MapType(SS, SS), True),
                    StructField("gantry_system_variable_metadata", MapType(SS, SS), True),
                    StructField("sensor_fixed_metadata", MapType(SS, SS), True),
                    StructField("sensor_variable_metadata", MapType(SS, SS), True),
                ]
            ),
            True,
        ),
        StructField(
            "site_metadata",
            StructType([StructField("sitename", SS, True)]),
            True,
        ),
        StructField("dataset_name", SS, True),
    ]
)
