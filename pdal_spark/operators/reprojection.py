"""filters.reprojection — EPSG codes resolved onto projpipeline coord_ops.

Reference semantics (ReprojectionFilter.cpp:110-133): transform (X, Y)
from in_srs into out_srs; points whose transform FAILS are DROPPED.

There is no GDAL/PROJ here, so a CRS is a row of ``EPSG``: the PROJ
operation that takes radian lon/lat to that grid, in the step
vocabulary of operators/projpipeline.py.  One resolver turns an
(in_srs, out_srs) pair with EPSG:4326 on one side into a
``(coord_op, reverse_transfo)`` pair, and the three front ends run it
on that module's Column, SQL and numpy backends.  The projection math
and each family's drop guard therefore live in one place.  WGS 84 UTM
zones (EPSG:326zz north, 327zz south) resolve without a table row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from pdal_spark.operators.projpipeline import (pipeline_np, pipeline_sql,
                                               projpipeline)

#: EPSG code -> PROJ operation from radian lon/lat (EPSG registry
#: parameters).
EPSG = {
    # WGS 84 / Pseudo-Mercator (spherical formulas on the WGS 84 a)
    "EPSG:3857": "+proj=webmerc +ellps=WGS84",
    # WGS 84 / World Mercator
    "EPSG:3395": "+proj=merc +ellps=WGS84",
    # RGF93 / Lambert-93 (France)
    "EPSG:2154": ("+proj=lcc +lat_1=49 +lat_2=44 +lat_0=46.5 +lon_0=3 "
                  "+x_0=700000 +y_0=6600000 +ellps=GRS80"),
    # NAD83 / Statistics Canada Lambert
    "EPSG:3347": ("+proj=lcc +lat_1=49 +lat_2=77 +lat_0=63.390675 "
                  "+lon_0=-91.866667 +x_0=6200000 +y_0=3000000 "
                  "+ellps=GRS80"),
    # NAD83 / Conus Albers (the US national equal-area grid)
    "EPSG:5070": ("+proj=aea +lat_1=29.5 +lat_2=45.5 +lat_0=23 "
                  "+lon_0=-96 +ellps=GRS80"),
    # NSIDC Sea Ice Polar Stereographic North / South
    "EPSG:3413": "+proj=stere +lat_0=90 +lat_ts=70 +lon_0=-45 +ellps=WGS84",
    "EPSG:3976": "+proj=stere +lat_0=-90 +lat_ts=-70 +lon_0=0 +ellps=WGS84",
    # WGS 84 / UPS North and South (EPSG 7-2 §3.4 variant A)
    "EPSG:32661": ("+proj=stere +lat_0=90 +k_0=0.994 +x_0=2000000 "
                   "+y_0=2000000 +ellps=WGS84"),
    "EPSG:32761": ("+proj=stere +lat_0=-90 +k_0=0.994 +x_0=2000000 "
                   "+y_0=2000000 +ellps=WGS84"),
}

_FROM_DEG = ("+proj=pipeline +step +proj=unitconvert +xy_in=deg "
             "+xy_out=rad +step ")


def _operation(srs: str) -> str | None:
    """The table row for srs, or the UTM operation for EPSG:326zz /
    EPSG:327zz; None for anything else."""
    if srs in EPSG:
        return EPSG[srs]
    code = srs[5:] if srs.startswith("EPSG:") else ""
    if len(code) == 5 and code[:3] in ("326", "327") and code.isdigit():
        zone = int(code[3:])
        if 1 <= zone <= 60:
            south = " +south" if code[:3] == "327" else ""
            return f"+proj=utm +zone={zone}{south} +ellps=WGS84"
    return None


def resolve(in_srs: str, out_srs: str) -> tuple[str, bool]:
    """(in_srs, out_srs) -> (coord_op, reverse_transfo): the degree
    lon/lat -> grid operation, run backwards when out_srs is 4326."""
    if in_srs == "EPSG:4326" and (op := _operation(out_srs)):
        return _FROM_DEG + op, False
    if out_srs == "EPSG:4326" and (op := _operation(in_srs)):
        return _FROM_DEG + op, True
    raise ValueError(
        f"no built-in transform {in_srs} -> {out_srs}; express other "
        f"operations as a filters.projpipeline coord_op")


def reproject(
    df: DataFrame,
    in_srs: str,
    out_srs: str,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Transform (x, y) from in_srs to out_srs, dropping failed rows."""
    if in_srs == out_srs:
        return df
    op, reverse = resolve(in_srs, out_srs)
    return projpipeline(df, op, reverse_transfo=reverse, x=x, y=y)


def reproject_sql(in_srs: str, out_srs: str, x: str = "x", y: str = "y"):
    """(x_sql, y_sql, where_sql) twins for the DuckDB oracle."""
    op, reverse = resolve(in_srs, out_srs)
    xs, ys, _, where = pipeline_sql(op, reverse, x=x, y=y)
    return xs, ys, where


def reproject_np(xs, ys, in_srs: str = "EPSG:4326", out_srs: str = "EPSG:3857"):
    """numpy oracle -> (x of kept rows, y of kept rows, keep mask)."""
    op, reverse = resolve(in_srs, out_srs)
    nx, ny, _, ok = pipeline_np(op, xs, ys, reverse_transfo=reverse)
    return nx[ok], ny[ok], ok
