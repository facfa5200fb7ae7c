"""Geospatial column expressions.

All pure Catalyst math — no UDFs — so they stay inside whole-stage
codegen and survive 100 TB scans. Semantics match the reference:

* haversine: great-circle km, R=6371 (reference ``kpt/visualize.py:26-36``)
* bbox filter: closed-interval containment (reference
  ``kpt/poller/config.py:40-43``, applied at ``parsers.py:40-41``)
* region classification: first-match bbox cascade (reference
  ``eway/pipeline/ws_interceptor.py:44-54,141-153``)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config import (
    EARTH_RADIUS_KM,
    KYIV_BBOX_NARROW,
    UKRAINE_BBOX,
    BoundingBox,
)


def haversine_km(
    lat1: Column, lon1: Column, lat2: Column, lon2: Column
) -> Column:
    """Great-circle distance in km between two (lat, lon) pairs.

    Identical formula to the reference (atan2 form, R=6371); compiles to a
    single codegen'd expression tree.
    """
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(F.radians(lat1))
        * F.cos(F.radians(lat2))
        * F.sin(dlon / 2)
        * F.sin(dlon / 2)
    )
    c = 2 * F.atan2(F.sqrt(a), F.sqrt(1 - a))
    return F.lit(EARTH_RADIUS_KM) * c


def in_bbox(lat: Column, lon: Column, bbox: BoundingBox) -> Column:
    """Closed-interval bounding-box containment predicate.

    Expressed as four comparisons so Catalyst pushes it into the scan
    (PushedFilters on parquet; partition pruning if lat/lon bucketed).
    Apply it to a parsed column (a scan column, or one a Generate or
    lambda produced), never to a re-derivable parse expression: a filter
    pushed below the projection that parses inlines one copy of the
    parse per comparison.
    """
    return (
        lat.between(bbox.lat_min, bbox.lat_max)
        & lon.between(bbox.lon_min, bbox.lon_max)
    )


def valid_coords(lat: Column, lon: Column) -> Column:
    """Coordinate validity: |lat| <= 90, |lon| <= 180 (reference F2)."""
    return lat.between(-90.0, 90.0) & lon.between(-180.0, 180.0)


def classify_region(
    lat: Column,
    lon: Column,
    kyiv: BoundingBox = KYIV_BBOX_NARROW,
    ukraine: BoundingBox = UKRAINE_BBOX,
) -> Column:
    """First-match region label: kyiv -> ukraine -> other (reference F8).

    One ``when`` cascade instead of the reference's three output lists —
    a single DataFrame with a ``region`` column scales; three driver-side
    lists do not.
    """
    return (
        F.when(in_bbox(lat, lon, kyiv), F.lit("kyiv"))
        .when(in_bbox(lat, lon, ukraine), F.lit("ukraine"))
        .otherwise(F.lit("other"))
    )


def speed_kmh(distance_km: Column, dt_seconds: Column) -> Column:
    """Speed in km/h from a distance/time delta (reference visualize.py:79)."""
    return distance_km / dt_seconds * 3600.0


def speed_bucket(speed: Column) -> Column:
    """5-bucket speed color classes (reference kpt/templates/vehicle_map.html:24-30)."""
    return (
        F.when(speed < 10, F.lit("lt10"))
        .when(speed < 20, F.lit("lt20"))
        .when(speed < 30, F.lit("lt30"))
        .when(speed < 40, F.lit("lt40"))
        .otherwise(F.lit("ge40"))
    )


def geohash_cell(lat: Column, lon: Column, cell_deg: float = 0.01) -> Column:
    """Integer grid cell id for geo-bucketed joins.

    The scale path for proximity joins: bucket both sides by cell, equi-join
    on the cell (plus the 8 neighbors on the probe side when radius spans
    cells), then apply the exact haversine predicate. Turns an O(n*m) cross
    range-join into a co-partitioned equi-join.
    """
    ncols = int(round(360.0 / cell_deg))
    return (
        F.floor((lat + 90.0) / F.lit(cell_deg)) * F.lit(ncols)
        + F.floor((lon + 180.0) / F.lit(cell_deg))
    ).cast("long")
