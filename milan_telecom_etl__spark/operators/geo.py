"""Geometry operators (C6-C8, S4 — SURVEY.md §2.1, §2.3) — pure Spark.

The reference uses geopandas/PostGIS for three things only: CRS
reprojection at load (reference src/etl.py:34-35,71-72), bounding-box
derivation (reference src/etl.py:39-42), and geometry storage
(reference src/database.py:70,77). No spatial predicate is ever
executed (SURVEY.md §4.2), so a full geo engine is not needed.

Everything here is built-in column expressions over GeoJSON coordinate
arrays — no shapely/pyproj (not installed), no UDFs, fully codegen-able
and embarrassingly parallel:

- envelope/bounds: min/max folds over the coordinate arrays (C7).
- WKT serialization: transform + array_join (storage format for the
  geometry columns, replacing PostGIS geometry).
- EPSG:4326 → EPSG:32632 (UTM 32N) reprojection: Snyder's Transverse
  Mercator forward series (Map Projections — A Working Manual, USGS
  PP 1395, eq. 8-9..8-15) as a closed-form column expression (C8);
  sub-mm agreement with pyproj over the Milan grid extent.

Coordinate layout (GeoJSON): Polygon = ring[point[xy]], i.e.
array<array<array<double>>>; MultiPolygon adds one nesting level.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# WGS84 / UTM zone 32N constants (EPSG:32632)
WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563
UTM_K0 = 0.9996
UTM32_LON0_DEG = 9.0
UTM_FALSE_EASTING = 500000.0
UTM_FALSE_NORTHING = 0.0

_E2 = WGS84_F * (2.0 - WGS84_F)
_E4 = _E2 * _E2
_E6 = _E4 * _E2
_EP2 = _E2 / (1.0 - _E2)

# Meridional-arc series coefficients (Snyder eq. 3-21)
_M0 = 1.0 - _E2 / 4.0 - 3.0 * _E4 / 64.0 - 5.0 * _E6 / 256.0
_M2 = 3.0 * _E2 / 8.0 + 3.0 * _E4 / 32.0 + 45.0 * _E6 / 1024.0
_M4 = 15.0 * _E4 / 256.0 + 45.0 * _E6 / 1024.0
_M6 = 35.0 * _E6 / 3072.0


def _tm_terms(lon_deg: Column, lat_deg: Column) -> dict[str, Column]:
    """The per-point terms of the Transverse Mercator series (Snyder
    PP1395 eq. 8-12..8-15 and 3-21): n_rad (N), t, c, a, tan_phi and
    the meridional arc m. `_tm_xy` turns them into easting/northing."""
    lam = F.radians(lon_deg)
    phi = F.radians(lat_deg)
    lam0 = math.radians(UTM32_LON0_DEG)

    sin_phi = F.sin(phi)
    cos_phi = F.cos(phi)
    tan_phi = F.tan(phi)

    return {
        "n_rad": F.lit(WGS84_A) / F.sqrt(F.lit(1.0) - F.lit(_E2) * sin_phi * sin_phi),
        "t": tan_phi * tan_phi,
        "c": F.lit(_EP2) * cos_phi * cos_phi,
        "a": (lam - F.lit(lam0)) * cos_phi,
        "tan_phi": tan_phi,
        "m": F.lit(WGS84_A) * (
            F.lit(_M0) * phi
            - F.lit(_M2) * F.sin(F.lit(2.0) * phi)
            + F.lit(_M4) * F.sin(F.lit(4.0) * phi)
            - F.lit(_M6) * F.sin(F.lit(6.0) * phi)
        ),
    }


def _tm_xy(terms: dict[str, Column] | Column) -> tuple[Column, Column]:
    """Easting/northing from `_tm_terms` (a dict, or a struct column
    with the same fields): the powers of a and the x/y series, Snyder
    PP1395 eq. 8-9/8-10."""
    n_rad, t, c, a_ = terms["n_rad"], terms["t"], terms["c"], terms["a"]
    tan_phi, m = terms["tan_phi"], terms["m"]

    a2 = a_ * a_
    a3 = a2 * a_
    a4 = a2 * a2
    a5 = a4 * a_
    a6 = a4 * a2

    x = (
        F.lit(UTM_K0)
        * n_rad
        * (
            a_
            + (F.lit(1.0) - t + c) * a3 / F.lit(6.0)
            + (
                F.lit(5.0)
                - F.lit(18.0) * t
                + t * t
                + F.lit(72.0) * c
                - F.lit(58.0) * F.lit(_EP2)
            )
            * a5
            / F.lit(120.0)
        )
        + F.lit(UTM_FALSE_EASTING)
    )
    y = F.lit(UTM_K0) * (
        m
        + n_rad
        * tan_phi
        * (
            a2 / F.lit(2.0)
            + (F.lit(5.0) - t + F.lit(9.0) * c + F.lit(4.0) * c * c) * a4 / F.lit(24.0)
            + (
                F.lit(61.0)
                - F.lit(58.0) * t
                + t * t
                + F.lit(600.0) * c
                - F.lit(330.0) * F.lit(_EP2)
            )
            * a6
            / F.lit(720.0)
        )
    ) + F.lit(UTM_FALSE_NORTHING)
    return x, y


def tm_forward_xy(lon_deg: Column, lat_deg: Column) -> tuple[Column, Column]:
    """Transverse Mercator forward projection (WGS84 → UTM 32N), as a
    pair of column expressions. Snyder PP1395 eq. 8-9/8-10."""
    return _tm_xy(_tm_terms(lon_deg, lat_deg))


def tm_forward_py(lon_deg: float, lat_deg: float) -> tuple[float, float]:
    """Driver-side reference implementation (same series) — the test
    oracle for the column-expression translation."""
    lam, phi = math.radians(lon_deg), math.radians(lat_deg)
    lam0 = math.radians(UTM32_LON0_DEG)
    n_rad = WGS84_A / math.sqrt(1 - _E2 * math.sin(phi) ** 2)
    t = math.tan(phi) ** 2
    c = _EP2 * math.cos(phi) ** 2
    a_ = (lam - lam0) * math.cos(phi)
    m = WGS84_A * (
        _M0 * phi
        - _M2 * math.sin(2 * phi)
        + _M4 * math.sin(4 * phi)
        - _M6 * math.sin(6 * phi)
    )
    x = (
        UTM_K0
        * n_rad
        * (
            a_
            + (1 - t + c) * a_**3 / 6
            + (5 - 18 * t + t**2 + 72 * c - 58 * _EP2) * a_**5 / 120
        )
        + UTM_FALSE_EASTING
    )
    y = UTM_K0 * (
        m
        + n_rad
        * math.tan(phi)
        * (
            a_**2 / 2
            + (5 - t + 9 * c + 4 * c**2) * a_**4 / 24
            + (61 - 58 * t + t**2 + 600 * c - 330 * _EP2) * a_**6 / 720
        )
    )
    return x, y


# ---------------------------------------------------------------------------
# Envelope / bounds / WKT over GeoJSON polygon coordinate arrays
# ---------------------------------------------------------------------------


def _ring_xs(ring: Column) -> Column:
    return F.transform(ring, lambda pt: F.element_at(pt, 1))


def _ring_ys(ring: Column) -> Column:
    return F.transform(ring, lambda pt: F.element_at(pt, 2))


def polygon_envelope(coords: Column) -> Column:
    """C7: struct(minx,miny,maxx,maxy) from Polygon coordinates
    array<ring<point<double>>> (all rings included, matching
    shapely's .bounds at reference src/etl.py:39)."""
    pts = F.flatten(coords)
    xs = _ring_xs(pts)
    ys = _ring_ys(pts)
    return F.struct(
        F.array_min(xs).alias("minx"),
        F.array_min(ys).alias("miny"),
        F.array_max(xs).alias("maxx"),
        F.array_max(ys).alias("maxy"),
    )


def multipolygon_envelope(coords: Column) -> Column:
    """Envelope over MultiPolygon coords (one more nesting level)."""
    return polygon_envelope(F.flatten(coords))


def bounds_string(env: Column) -> Column:
    """The reference's "minx,miny,maxx,maxy" bounds format
    (reference src/etl.py:40-42). Plain float→string casts — Spark and
    the reference both emit repr-style doubles."""
    return F.concat_ws(
        ",",
        env["minx"].cast("string"),
        env["miny"].cast("string"),
        env["maxx"].cast("string"),
        env["maxy"].cast("string"),
    )


def _ring_wkt(ring: Column) -> Column:
    return F.concat(
        F.lit("("),
        F.array_join(
            F.transform(
                ring,
                lambda pt: F.concat_ws(
                    " ",
                    F.element_at(pt, 1).cast("string"),
                    F.element_at(pt, 2).cast("string"),
                ),
            ),
            ", ",
        ),
        F.lit(")"),
    )


def polygon_wkt(coords: Column) -> Column:
    """WKT text for a Polygon coordinate array — the storage form that
    replaces PostGIS GEOMETRY columns (SURVEY.md §1.2)."""
    return F.concat(
        F.lit("POLYGON ("),
        F.array_join(F.transform(coords, _ring_wkt), ", "),
        F.lit(")"),
    )


def multipolygon_wkt(coords: Column) -> Column:
    return F.concat(
        F.lit("MULTIPOLYGON ("),
        F.array_join(
            F.transform(
                coords,
                lambda poly: F.concat(
                    F.lit("("), F.array_join(F.transform(poly, _ring_wkt), ", "), F.lit(")")
                ),
            ),
            ", ",
        ),
        F.lit(")"),
    )


def reproject_polygon(coords: Column) -> Column:
    """C8: reproject Polygon coordinates 4326→32632 point-by-point —
    a nested transform whose leaves are the TM series expressions.

    Spark evaluates higher-order-function lambdas without codegen and
    without common-subexpression elimination, so an inline
    `tm_forward_xy` would rebuild every term (and its trig calls) at
    each use. The terms are bound ONCE per point instead: a 1-element
    `transform` over `array(struct(terms))` acts as a let-binding (as
    in `dedup._minhash_sig_arr`), and the x/y series read its fields.
    Same operations on the same values: bit-identical to
    `tm_forward_xy`."""

    def _pt(pt: Column) -> Column:
        terms = _tm_terms(F.element_at(pt, 1), F.element_at(pt, 2))
        bound = F.array(F.struct(*[v.alias(k) for k, v in terms.items()]))
        return F.element_at(F.transform(bound, lambda s: F.array(*_tm_xy(s))), 1)

    return F.transform(coords, lambda ring: F.transform(ring, _pt))


# ---------------------------------------------------------------------------
# S4: GeoJSON source
# ---------------------------------------------------------------------------


def read_geojson(spark: SparkSession, path: str) -> DataFrame:
    """Read a GeoJSON FeatureCollection into (feature_index, properties
    struct, geometry type, polygon/multipolygon coords).

    Spark-first restatement of gpd.read_file (reference src/etl.py:32,69):
    multiLine JSON scan → posexplode(features). feature_index preserves
    file order — the reference keys grid cells by DataFrame index
    (C6, reference src/etl.py:37), so the index is semantic. The schema
    is inferred, which costs one scan job.
    """
    return _read_features(spark, path, None)


def _read_features(
    spark: SparkSession, path: str, schema: T.StructType | None
) -> DataFrame:
    """`read_geojson` with an optional declared file schema: a
    declared one needs no inference job."""
    reader = spark.read.option("multiLine", True)
    raw = (reader if schema is None else reader.schema(schema)).json(path)
    feats = raw.select(F.posexplode("features").alias("feature_index", "f"))
    return feats.select(
        "feature_index",
        F.col("f.properties").alias("properties"),
        F.col("f.geometry.type").alias("geom_type"),
        F.col("f.geometry.coordinates").alias("coordinates"),
    )


def point_in_ring(px: Column, py: Column, ring: Column) -> Column:
    """Ray-casting (crossing-number) point-in-polygon over a CLOSED
    ring column array<array<double>> (last vertex == first; 1-based
    x=pt[1], y=pt[2]) — a pure fold over the edge list, no UDF, no
    geo library. Identical IEEE arithmetic to the oracle's
    list_filter, so the inside/outside booleans agree bit-for-bit
    (knife-edge points sitting exactly on an edge are the caller's
    responsibility to avoid or accept)."""
    n = F.size(ring)
    idx = F.sequence(F.lit(1), n - 1)

    def _crosses(i: Column) -> Column:
        x1 = F.element_at(F.element_at(ring, i), 1)
        y1 = F.element_at(F.element_at(ring, i), 2)
        x2 = F.element_at(F.element_at(ring, i + F.lit(1)), 1)
        y2 = F.element_at(F.element_at(ring, i + F.lit(1)), 2)
        return ((y1 > py) != (y2 > py)) & (
            px < (x2 - x1) * (py - y1) / (y2 - y1) + x1
        )

    return (F.size(F.filter(idx, _crosses)) % 2) == 1
