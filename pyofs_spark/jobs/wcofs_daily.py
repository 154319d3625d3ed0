"""WCOFS daily ETL — the reference's actual §3.1 shape composed file-to-file
(round 5 — VERDICT r04 task 2; ref: PyOFS/model/wcofs.py:455-711
write_rasters, 179-321 grid/dataset load, 362-396 staggered rotation).

NetCDF-3 granules IN → curvilinear staggered grid dim table → u/v → true
east/north rotation → dir/mag → 1-NN regrid to the viewer lattice →
GeoTIFF + GPKG coverage OUT, one lineage partition per day (resumable).
Every stage is a previously-tested component; this module is only the
composition:

  stage 0  grid dim table       sources/grids.build_curvilinear_grid
           + var→grid discovery sources/grids.variable_grid_map over the
           granule header's `location` attrs (driver-side header parse of
           ONE granule — dimension metadata, not data)
  stage 1  granule scan         sources/scan.read_netcdf3_grid
           (binaryFile + mapInPandas; one task per granule)
  stage 2  staggered rotation   sources/grids.rotate_staggered_uv
           (grid side broadcasts; u/v meet in one (i,j) shuffle)
  stage 3  dir/mag              JVM-side atan2/hypot (C5 kernel semantics:
           dir = (atan2(e, n) + π)·180/π, mag = hypot — wcofs.py:629-633)
  stage 4  1-NN regrid          jobs/daily.regrid_to_lattice — the same
           lattice stage as the daily job (exactly kernels.regrid_nearest;
           on the driver when the lattice is small), collected once
  stage 5  sinks                real GeoTIFF (K1) + GPKG 2D-gridded
           coverage (K3), north-up/float32/nodata, all from that one
           collected table
  publish  lineage manifest commit per day (T1/F10) — kill + re-invoke
           completes only missing days; tested in tests/test_wcofs_daily.py

Scale: the grid is a broadcast dimension (WCOFS 4-km ≈ 2.4 M cells); the
granule archive scans at full cluster width (one task per file); the only
fact shuffles are the (i, j) zip join and the regrid cell-ring join — both
keyed, both skew-safe at this geometry. Per-day output rasters are
dimension-sized (the reference's own export unit).
"""

from __future__ import annotations

import glob as _glob
import os

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..lineage import input_fingerprint, run_partitioned
from ..sources.grids import (
    WCOFS_POLE,
    build_curvilinear_grid,
    variable_grid_map,
)
from ..sources.scan import read_netcdf3_grid
from ..sources.sinks import cells_grid, export_raster_geotiff
from .daily import regrid_to_lattice

# fixture geometry: a coarse rotated-pole window over the WCOFS domain
# (test-scaled; the production grid only changes these numbers)
N_XI, N_ETA = 8, 6
RLON0, RLAT0, STEP = 18.0, -22.0, 0.5


def synth_wcofs_uv(day_idx: int, n_xi: int = N_XI, n_eta: int = N_ETA):
    """Deterministic staggered u/v granule payloads for one day.
    u on the u grid (n_eta, n_xi-1), v on the v grid (n_eta-1, n_xi) —
    standard ROMS C-grid staggering, matching sources/grids._STAGGER."""
    ju, iu = np.meshgrid(np.arange(n_eta), np.arange(n_xi - 1), indexing="ij")
    jv, iv = np.meshgrid(np.arange(n_eta - 1), np.arange(n_xi), indexing="ij")
    u = np.sin(0.31 * iu + 0.73 * ju + 0.17 * day_idx) + 0.1 * day_idx
    v = np.cos(0.41 * iv + 0.59 * jv - 0.13 * day_idx) - 0.05 * day_idx
    return u, v


def write_wcofs_archive(
    nc_dir: str,
    days: list[str],
    n_xi: int = N_XI,
    n_eta: int = N_ETA,
) -> list[str]:
    """Write one NetCDF-3 granule per day with staggered u/v carrying the
    reference's `location` attributes (wcofs.py:42 GRID_LOCATIONS) and
    index coordinate variables, so the generic scan source can decode
    them and variable_grid_map can discover their sub-grids."""
    from ..sources.netcdf3 import write_netcdf3

    os.makedirs(nc_dir, exist_ok=True)
    paths = []
    for d_idx, day in enumerate(days):
        u, v = synth_wcofs_uv(d_idx, n_xi, n_eta)
        path = os.path.join(nc_dir, f"wcofs_{day}.nc")
        write_netcdf3(
            path,
            dims={
                "eta_u": n_eta, "xi_u": n_xi - 1,
                "eta_v": n_eta - 1, "xi_v": n_xi,
            },
            variables={
                "eta_u": (("eta_u",), np.arange(n_eta, dtype=np.float64), {}),
                "xi_u": (("xi_u",), np.arange(n_xi - 1, dtype=np.float64), {}),
                "eta_v": (
                    ("eta_v",), np.arange(n_eta - 1, dtype=np.float64), {},
                ),
                "xi_v": (("xi_v",), np.arange(n_xi, dtype=np.float64), {}),
                "u": (("eta_u", "xi_u"), u.astype(np.float64),
                      {"location": "edge1"}),
                "v": (("eta_v", "xi_v"), v.astype(np.float64),
                      {"location": "edge2"}),
            },
            global_attrs={"title": f"wcofs synth {day}"},
        )
        paths.append(path)
    return paths


def discover_variable_grids(nc_dir: str) -> dict[str, str]:
    """Driver-side header parse of ONE granule → variable → sub-grid map
    (the reference inspects dataset metadata once per run the same way,
    wcofs.py:218-251)."""
    from ..sources.netcdf3 import read_netcdf3

    first = sorted(_glob.glob(os.path.join(nc_dir, "*.nc")))[0]
    nc = read_netcdf3(first)
    two_d = {
        name: v["attrs"]
        for name, v in nc["variables"].items()
        if len(v["dims"]) == 2
    }
    return variable_grid_map(two_d)


def rotated_dirmag_for_day(
    spark: SparkSession,
    nc_dir: str,
    day: str,
    grid: DataFrame,
    n_xi: int = N_XI,
) -> DataFrame:
    """Stages 1-3 for one day: scan the day's granule, rotate staggered
    u/v to east/north through the grid dim table, derive dir/mag, attach
    rho lon/lat (+ land mask filter). Returns scatter points
    (point_id, i, j, lon, lat, mag, direction)."""
    cells = read_netcdf3_grid(
        spark, nc_dir, variables=["u", "v"], glob=f"*_{day}.nc"
    )
    u_vals = cells.filter(F.col("variable") == "u").select(
        "i", "j", F.col("value").alias("u")
    )
    v_vals = cells.filter(F.col("variable") == "v").select(
        "i", "j", F.col("value").alias("v")
    )
    from ..sources.grids import rotate_staggered_uv

    en = rotate_staggered_uv(grid, u_vals, v_vals).filter(
        F.col("east").isNotNull() & F.col("north").isNotNull()
    )
    rho = grid.filter(
        (F.col("grid_name") == "rho") & F.col("mask")
    ).select("i", "j", "lon", "lat")
    return (
        en.join(F.broadcast(rho), ["i", "j"])
        .select(
            (F.col("j") * n_xi + F.col("i")).alias("point_id"),
            "i", "j", "lon", "lat",
            F.hypot("east", "north").alias("mag"),
            (
                (F.atan2("east", "north") + F.lit(float(np.pi)))
                * F.lit(180.0 / np.pi)
            ).alias("direction"),
        )
    )


def build_wcofs_day(
    spark: SparkSession,
    nc_dir: str,
    day: str,
    grid: DataFrame,
    out_dir: str,
    lat0: float,
    lon0: float,
    lstep: float,
    n_lon: int,
    n_lat: int,
) -> pa.Table:
    """Stages 4-5 for one day: 1-NN regrid dir/mag to the viewer lattice
    (direction rides mag's neighbor) as one collected lattice stage, then
    mag + dir GeoTIFFs and a GPKG coverage from that one table. Returns the
    lattice rows (the day's lineage-partition payload) as an Arrow table."""
    cells = regrid_to_lattice(
        spark, rotated_dirmag_for_day(spark, nc_dir, day, grid),
        values=("mag", "direction"), mask=False,
        lon0=lon0, lat0=lat0, step=lstep, n_lon=n_lon, n_lat=n_lat,
    )
    os.makedirs(out_dir, exist_ok=True)
    arrays = {
        vname: export_raster_geotiff(
            cells_grid(cells, n_lon, n_lat, "gi", "gj", vname),
            os.path.join(out_dir, f"wcofs_{vname}_{day}.tif"),
            west=lon0, south=lat0, dx=lstep, dy=lstep,
        )
        for vname in ("mag", "direction")
    }
    from ..sources.gpkg import write_gpkg_raster

    write_gpkg_raster(
        os.path.join(out_dir, f"wcofs_{day}.gpkg"), "mag_cov",
        arrays["mag"],
        west=lon0, north=lat0 + n_lat * lstep, dx=lstep, dy=lstep,
        field_name="mag",
    )
    return cells


def run_wcofs_daily(
    spark: SparkSession,
    nc_dir: str,
    out_root: str,
    days: list[str],
    n_xi: int = N_XI,
    n_eta: int = N_ETA,
    rlon0: float = RLON0,
    rlat0: float = RLAT0,
    step: float = STEP,
    pole_lon: float = WCOFS_POLE[0],
    pole_lat: float = WCOFS_POLE[1],
    lattice_spec: tuple[float, float, float, int, int] | None = None,
) -> dict:
    """The full composed driver: grid dim table once, then one resumable
    lineage partition per day. lattice_spec = (lat0, lon0, step, n_lon,
    n_lat); default covers the unrotated fixture grid's footprint."""
    vmap = discover_variable_grids(nc_dir)
    if vmap.get("u") != "u" or vmap.get("v") != "v":
        raise ValueError(f"unexpected variable->grid discovery: {vmap}")
    grid = build_curvilinear_grid(
        spark, n_xi, n_eta, rlon0, rlat0, step, pole_lon, pole_lat
    )
    if lattice_spec is None:
        # footprint of the rho sub-grid, padded half a step
        ext = grid.filter(F.col("grid_name") == "rho").agg(
            F.min("lon"), F.max("lon"), F.min("lat"), F.max("lat")
        ).collect()[0]
        lstep = step
        lat0, lon0 = ext[2], ext[0]
        n_lon = int(np.ceil((ext[1] - ext[0]) / lstep)) + 1
        n_lat = int(np.ceil((ext[3] - ext[2]) / lstep)) + 1
    else:
        lat0, lon0, lstep, n_lon, n_lat = lattice_spec

    def build(s: SparkSession, day: str) -> pa.Table:
        return build_wcofs_day(
            s, nc_dir, day, grid, os.path.join(out_root, "rasters"),
            lat0, lon0, lstep, n_lon, n_lat,
        )

    spec = [n_xi, n_eta, rlon0, rlat0, step, pole_lon, pole_lat,
            float(lat0), float(lon0), float(lstep), int(n_lon), int(n_lat)]

    def fingerprint(day: str) -> str:
        return input_fingerprint(_glob.glob(os.path.join(nc_dir, f"*_{day}.nc")), spec)

    summary = run_partitioned(spark, out_root, days, build, fingerprint)
    summary["lattice"] = {
        "lat0": float(lat0), "lon0": float(lon0), "step": float(lstep),
        "n_lon": int(n_lon), "n_lat": int(n_lat),
    }
    return summary
