"""Feature-CSV source — SURVEY §2.1 S3.

Reads ``<bin>_fea_v4.csv`` slim feature files (30 feature columns +
roi_number; ``extract_slim_features.py:16-47``, FIXTURES.md §2) with an
explicit schema — no inference pass — and the bin id recovered from the
file name via ``input_file_name()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_DOUBLE_COLS = [
    "Area",
    "Biovolume",
    "BoundingBox_xwidth",
    "BoundingBox_ywidth",
    "ConvexArea",
    "ConvexPerimeter",
    "Eccentricity",
    "EquivDiameter",
    "Extent",
    "MajorAxisLength",
    "MinorAxisLength",
    "Orientation",
    "Perimeter",
    "RepresentativeWidth",
    "Solidity",
    "SurfaceArea",
    "maxFeretDiameter",
    "minFeretDiameter",
    "numBlobs",
    "summedArea",
    "summedBiovolume",
    "summedConvexArea",
    "summedConvexPerimeter",
    "summedMajorAxisLength",
    "summedMinorAxisLength",
    "summedPerimeter",
    "summedSurfaceArea",
    "Area_over_PerimeterSquared",
    "Area_over_Perimeter",
    "summedConvexPerimeter_over_Perimeter",
]

FEATURES_V4_SCHEMA = T.StructType(
    [T.StructField("roi_number", T.IntegerType(), False)]
    + [T.StructField(c, T.DoubleType(), True) for c in _DOUBLE_COLS]
)


def read_features_csv(spark: SparkSession, path: str) -> DataFrame:
    """``<path>/*_fea_v4.csv`` → per-ROI rows keyed (sample, roi_number)."""
    df = (
        spark.read.schema(FEATURES_V4_SCHEMA)
        .option("header", "true")
        # Check each file's header against the declared names: by default
        # Spark applies the schema by position and a reordered file would
        # silently swap feature columns.
        .option("enforceSchema", "false")
        .option("pathGlobFilter", "*_fea_v4.csv")
        .csv(path)
        .withColumn(
            "sample",
            F.regexp_extract(F.input_file_name(), r"([^/]+)_fea_v4\.csv$", 1),
        )
    )
    return df.select("sample", *FEATURES_V4_SCHEMA.fieldNames())
