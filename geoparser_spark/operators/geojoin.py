"""Spatial joins: exact nearest-place (reverse geocoding) at scale.

GeoParser's forward path maps names -> coordinates (geotag.py); this is
the reverse: each point -> its nearest gazetteer place by great-circle
distance.  A naive implementation cross-joins points x places (10^12 x
12M — never).  The scale shape here is FILTER-REFINE, and it is EXACT,
not approximate:

1. **Filter**: places bucket into (cell_deg x cell_deg) grid cells;
   each point probes its 3x3 cell neighborhood through a broadcast
   hash join (map-only on the point side) and takes the candidate min.
2. **Refine**: the grid answer is provably global iff the candidate
   distance is <= the minimum possible distance to any place OUTSIDE
   the neighborhood.  That bound is computable per point:
   d_bound = min(lat-leg, lon-leg) where lat-leg = R·rad(cell_deg)
   (leaving the box needs >= cell_deg of latitude) and lon-leg =
   2R·asin(cos(φ)·sin(rad(cell_deg)/2)) with φ = |lat|+cell_deg capped
   at 90° (the worst-case latitude an outside place could occupy while
   beating the lat-leg).  Near the poles cos(φ) -> 0, the bound
   degenerates, and those points — a vanishing fraction of any real
   corpus — fall through to the refine path by construction.
3. Points whose grid answer is not provably global (or that found no
   candidate at all) brute-force against the full broadcast place
   list.  With a realistically dense gazetteer the refine set is tiny;
   with a sparse one correctness never degrades, only the fallback
   fraction grows.

All three phases are column expressions + broadcast joins — zero
corpus shuffles beyond the per-point candidate min (map-side combined,
keyed on the point id).

Ties (two places exactly equidistant in the double) break on the
smaller geonameid: the min is taken over struct(dist, geonameid, ...)
whose lexicographic order is deterministic."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0088


def haversine_km(lat1: Column, lon1: Column, lat2: Column, lon2: Column) -> Column:
    """Great-circle distance in km between two (degree) coordinates —
    one codegen'd expression, shared by radius search and the nearest
    join."""
    rlat1, rlon1 = F.radians(lat1), F.radians(lon1)
    rlat2, rlon2 = F.radians(lat2), F.radians(lon2)
    h = (
        F.pow(F.sin((rlat2 - rlat1) / 2), 2)
        + F.cos(rlat1) * F.cos(rlat2) * F.pow(F.sin((rlon2 - rlon1) / 2), 2)
    )
    # clamp: rounding can push h a hair past 1.0 for antipodes
    return 2 * F.lit(EARTH_RADIUS_KM) * F.asin(F.sqrt(F.least(h, F.lit(1.0))))


def _outside_bound_km(lat: Column, cell_deg: float) -> Column:
    """Lower bound on the distance from a point at ``lat`` to ANY
    location outside its 3x3 cell neighborhood (see module doc)."""
    lat_leg = F.lit(EARTH_RADIUS_KM) * F.radians(F.lit(float(cell_deg)))
    phi = F.least(F.abs(lat) + F.lit(float(cell_deg)), F.lit(90.0))
    lon_leg = (
        2 * F.lit(EARTH_RADIUS_KM)
        * F.asin(F.greatest(F.cos(F.radians(phi)), F.lit(0.0))
                 * F.sin(F.radians(F.lit(float(cell_deg))) / 2))
    )
    return F.least(lat_leg, lon_leg)


def nearest_place(points: DataFrame, places: DataFrame,
                  cell_deg: float = 5.0,
                  id_col: str = "event_id",
                  lat_col: str = "latitude", lon_col: str = "longitude",
                  place_id_col: str = "geonameid",
                  place_name_col: str = "name",
                  place_lat_col: str = "latitude",
                  place_lon_col: str = "longitude") -> DataFrame:
    """(id, geonameid, name, dist_km): each point's EXACT nearest place
    (grid filter + provable refine; module doc).  ``places`` must fit
    a broadcast — the same budget the forward geotag join already
    assumes for the gazetteer."""
    n_lon = int(round(360.0 / cell_deg))

    def cell_lat(c: Column) -> Column:
        return F.floor(c / cell_deg).cast("int")

    def cell_lon(c: Column) -> Column:
        return F.pmod(F.floor(c / cell_deg).cast("int"), F.lit(n_lon))

    pl = places.select(
        F.col(place_id_col).alias("p_id"),
        F.col(place_name_col).alias("p_name"),
        F.col(place_lat_col).alias("p_lat"),
        F.col(place_lon_col).alias("p_lon"),
        cell_lat(F.col(place_lat_col)).alias("c_lat"),
        cell_lon(F.col(place_lon_col)).alias("c_lon"),
    )
    pts = points.select(
        F.col(id_col).alias("id"),
        F.col(lat_col).alias("lat"), F.col(lon_col).alias("lon"),
    )
    offs = F.expr(
        "explode(array(" + ",".join(
            f"struct({dy} AS dy, {dx} AS dx)"
            for dy in (-1, 0, 1) for dx in (-1, 0, 1)) + "))"
    )
    probes = pts.select(
        "*", offs.alias("o")
    ).select(
        "id", "lat", "lon",
        (cell_lat(F.col("lat")) + F.col("o.dy")).alias("c_lat"),
        F.pmod(cell_lon(F.col("lon")) + F.col("o.dx"), F.lit(n_lon)).alias("c_lon"),
    )
    d = haversine_km(F.col("lat"), F.col("lon"), F.col("p_lat"), F.col("p_lon"))
    best_struct = F.struct(
        d.alias("dist"), F.col("p_id").alias("p_id"),
        F.col("p_name").alias("p_name"))
    cand = (
        probes.join(F.broadcast(pl), ["c_lat", "c_lon"])
        .groupBy("id")
        .agg(F.min(best_struct).alias("b"),
             F.first("lat").alias("lat"))
    )
    grid_exact = cand.where(
        F.col("b.dist") <= _outside_bound_km(F.col("lat"), cell_deg))
    unresolved = pts.join(grid_exact.select("id"), "id", "left_anti")
    brute = (
        unresolved.crossJoin(F.broadcast(pl.drop("c_lat", "c_lon")))
        .groupBy("id")
        .agg(F.min(best_struct).alias("b"))
    )
    out = grid_exact.select("id", "b").unionByName(brute.select("id", "b"))
    return out.select(
        F.col("id").alias(id_col),
        F.col("b.p_id").alias(place_id_col),
        F.col("b.p_name").alias(place_name_col),
        F.round(F.col("b.dist"), 3).alias("dist_km"),
    )


def zorder_cell(lat_col: Column, lon_col: Column, precision: int = 8) -> Column:
    """Z-order (Morton) cell id for a point, as ONE codegen'd integer
    expression: lat/lon quantized to `precision` bits each, bits
    interleaved (lon even positions, lat odd) into a single LONG.

    Why: spatial locality for FILES — `repartitionByRange(zorder_cell)`
    or `write.partitionBy` on a coarse cell clusters nearby points into
    the same parquet files, so viewport/radius scans prune on footer
    min/max instead of reading the globe (the clustering trick behind
    Iceberg/Delta Z-ordering, expressed as a plain column).  Purely
    integer after the quantization, so engine-portable: any SQL engine
    reproduces it with the identical shift/mask arithmetic.

    precision <= 26 keeps the interleaved id inside a signed LONG with
    room to spare; 8 bits ~ 156 km cells at the equator, fine for file
    pruning (this is a clustering key, not a geometry library).
    """
    if not 1 <= precision <= 26:
        raise ValueError(f"precision must be in [1, 26], got {precision}")
    n = F.lit(1 << precision)
    zero = F.lit(0)
    xi = F.greatest(
        F.least(F.floor((lon_col + 180.0) / 360.0 * n), n - 1), zero
    ).cast("long")
    yi = F.greatest(
        F.least(F.floor((lat_col + 90.0) / 180.0 * n), n - 1), zero
    ).cast("long")
    cell = F.lit(0).cast("long")
    for k in range(precision):
        cell = (
            cell
            + F.shiftleft(F.shiftright(xi, k).bitwiseAND(F.lit(1)), 2 * k)
            + F.shiftleft(F.shiftright(yi, k).bitwiseAND(F.lit(1)), 2 * k + 1)
        )
    return cell
