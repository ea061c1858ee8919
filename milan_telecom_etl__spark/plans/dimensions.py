"""Dimension loads (SURVEY.md §7.2.3) — grid + provinces.

Replicates reference load_grid_geometries / load_provinces_geometries
(reference src/etl.py:11-55,58-95) Spark-first: GeoJSON scan (S4) →
reprojection (C8) → key derivation (C6) → envelope/bounds (C7) →
projection (P1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.geo import (
    _read_features,
    bounds_string,
    multipolygon_envelope,
    multipolygon_wkt,
    polygon_envelope,
    polygon_wkt,
    read_geojson,
    reproject_polygon,
)
from ..schemas import GRID_GEOJSON


def load_grid_dim(
    spark: SparkSession, path: str, bug_compatible_ids: bool = True
) -> DataFrame:
    """dim_grid_milan (reference src/etl.py:11-55, DDL src/database.py:68-73).

    C6 caveat (SURVEY.md §7.4.1): the source carries properties.cellId
    1..10000 but the reference keys cells 0-based by DataFrame index
    (reference src/etl.py:37), off by one from the facts' CellID. We
    reproduce that faithfully when bug_compatible_ids=True (default, for
    parity) and use the source cellId otherwise (the fixed behavior).
    The grid file's schema is fixed, so it is declared (`GRID_GEOJSON`)
    rather than inferred with a scan job.
    """
    feats = _read_features(spark, path, GRID_GEOJSON)
    # C8: grid file is EPSG:4326 → reproject to 32632
    projected = feats.select(
        "feature_index",
        "properties",
        reproject_polygon(F.col("coordinates")).alias("coords32632"),
    )
    cell_id = (
        F.col("feature_index").cast("long")
        if bug_compatible_ids
        else F.col("properties.cellId").cast("long")
    )
    env = polygon_envelope(F.col("coords32632"))
    return projected.select(
        cell_id.alias("cell_id"),
        polygon_wkt(F.col("coords32632")).alias("geometry"),
        bounds_string(env).alias("bounds"),
        env["minx"].alias("minx"),
        env["miny"].alias("miny"),
        env["maxx"].alias("maxx"),
        env["maxy"].alias("maxy"),
        F.current_timestamp().alias("created_at"),
    )


def load_provinces_dim(spark: SparkSession, path: str) -> DataFrame:
    """dim_provinces_it (reference src/etl.py:58-95, DDL src/database.py:75-79).

    Source is already EPSG:32632 (reprojection is a no-op — SURVEY.md
    C8); PROVINCIA/name → provincia conditional rename (P2); population
    coerced, absent → 0 (C5).
    """
    feats = read_geojson(spark, path)
    prop_fields = [f.name for f in feats.schema["properties"].dataType.fields]
    if "PROVINCIA" in prop_fields:
        provincia = F.col("properties.PROVINCIA")
    elif "name" in prop_fields:
        provincia = F.col("properties.name")
    else:
        provincia = F.col("properties.provincia")
    population = (
        F.coalesce(F.col("properties.population").cast("int"), F.lit(0))
        if "population" in prop_fields
        else F.lit(0)
    )
    env = multipolygon_envelope(F.col("coordinates"))
    return feats.select(
        provincia.alias("provincia"),
        multipolygon_wkt(F.col("coordinates")).alias("geometry"),
        population.alias("population"),
        env["minx"].alias("minx"),
        env["miny"].alias("miny"),
        env["maxx"].alias("maxx"),
        env["maxy"].alias("maxy"),
    )
