"""Explicit schemas — the engine declares types and reads with them.

The reference *infers* at ingest (pd.read_csv with no dtypes,
reference src/etl.py:128,234) and *fixes* types at the warehouse layer
(DDL, reference src/database.py:66-99). We invert: explicit StructTypes
at read time, so types are stable and no inference pass is needed
(SURVEY.md §1.2). The raw CSV schemas are what the fact loaders read
with; the warehouse schemas are the contract `pipeline.TABLES` holds
(the facts add their `load_date` partition column): every warehouse
write selects the declared columns, so a loader that drifts from them
fails its write, and every read takes the declared schema instead of
inferring one.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Raw inputs (reference Kaggle CSVs; FIXTURES.md §1-2)
# ---------------------------------------------------------------------------

# sms-call-internet-mi-YYYY-MM-DD.csv — reference src/etl.py:128
TRAFFIC_RAW = T.StructType(
    [
        T.StructField("datetime", T.StringType()),  # parsed leniently (C1)
        T.StructField("CellID", T.LongType()),
        T.StructField("countrycode", T.LongType()),
        T.StructField("smsin", T.DoubleType()),
        T.StructField("smsout", T.DoubleType()),
        T.StructField("callin", T.DoubleType()),
        T.StructField("callout", T.DoubleType()),
        T.StructField("internet", T.DoubleType()),
    ]
)

# mi-to-provinces-YYYY-MM-DD.csv — reference src/etl.py:234
MOBILITY_RAW = T.StructType(
    [
        T.StructField("datetime", T.StringType()),
        T.StructField("CellID", T.LongType()),
        T.StructField("provinceName", T.StringType()),
        T.StructField("cell2Province", T.DoubleType()),
        T.StructField("Province2cell", T.DoubleType()),
    ]
)

# milano-grid.geojson — reference src/etl.py:32. A Polygon
# FeatureCollection with one property, as multiLine JSON inference types
# it; the grid dimension reads with it instead of inferring. The
# provinces file keeps inference: its property names vary
# (PROVINCIA/name/provincia).
_GRID_FEATURE = (
    T.StructType()
    .add(
        "geometry",
        T.StructType()
        .add("coordinates", T.ArrayType(T.ArrayType(T.ArrayType(T.DoubleType()))))
        .add("type", T.StringType()),
    )
    .add("properties", T.StructType().add("cellId", T.LongType()))
    .add("type", T.StringType())
)
GRID_GEOJSON = (
    T.StructType().add("features", T.ArrayType(_GRID_FEATURE)).add("type", T.StringType())
)

TRAFFIC_METRICS = ["smsin", "smsout", "callin", "callout", "internet"]
MOBILITY_METRICS = ["cell2province", "province2cell"]

# ---------------------------------------------------------------------------
# Warehouse tables (reference DDL src/database.py:66-99 → Spark types)
# ---------------------------------------------------------------------------

FACT_TRAFFIC = T.StructType(
    [
        T.StructField("datetime", T.TimestampType(), False),
        T.StructField("cell_id", T.LongType(), False),
        T.StructField("countrycode", T.LongType(), False),
        T.StructField("smsin", T.DoubleType(), False),
        T.StructField("smsout", T.DoubleType(), False),
        T.StructField("callin", T.DoubleType(), False),
        T.StructField("callout", T.DoubleType(), False),
        T.StructField("internet", T.DoubleType(), False),
    ]
)

FACT_MOBILITY = T.StructType(
    [
        T.StructField("datetime", T.TimestampType(), False),
        T.StructField("cell_id", T.LongType(), False),
        T.StructField("provincia", T.StringType(), False),
        T.StructField("cell2province", T.DoubleType(), False),
        T.StructField("province2cell", T.DoubleType(), False),
    ]
)

# Geometry has no native Spark type — WKT string + numeric envelope
# (SURVEY.md §1.2 / reference src/database.py:70,77).
DIM_GRID = T.StructType(
    [
        T.StructField("cell_id", T.LongType(), False),
        T.StructField("geometry", T.StringType()),  # WKT, EPSG:32632
        T.StructField("bounds", T.StringType()),  # "minx,miny,maxx,maxy" (C7)
        T.StructField("minx", T.DoubleType()),
        T.StructField("miny", T.DoubleType()),
        T.StructField("maxx", T.DoubleType()),
        T.StructField("maxy", T.DoubleType()),
        T.StructField("created_at", T.TimestampType()),
    ]
)

DIM_PROVINCES = T.StructType(
    [
        T.StructField("provincia", T.StringType(), False),
        T.StructField("geometry", T.StringType()),  # WKT MultiPolygon, 32632
        T.StructField("population", T.IntegerType(), False),
        T.StructField("minx", T.DoubleType()),
        T.StructField("miny", T.DoubleType()),
        T.StructField("maxx", T.DoubleType()),
        T.StructField("maxy", T.DoubleType()),
    ]
)

# ---------------------------------------------------------------------------
# Multimodal extension: opaque binary payload + typed metadata
# ---------------------------------------------------------------------------

MEDIA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType()),
        T.StructField("mime_type", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
    ]
)

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
