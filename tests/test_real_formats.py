"""Round-3 real file formats: GeoTIFF / NetCDF-3 / GeoPackage written with
pure stdlib+numpy — golden-byte structure checks, exact round-trips, and
the Spark sink integration (north-up flip + nodata at the edge)."""

from __future__ import annotations

import os
import shutil
import sqlite3
import struct
import tempfile

import numpy as np
import pandas as pd

from pyofs_spark.sources.geotiff import read_geotiff, write_geotiff
from pyofs_spark.sources.gpkg import (
    read_gpkg_layer,
    write_gpkg_points,
    write_gpkg_polygons,
)
from pyofs_spark.sources.netcdf3 import read_netcdf3, write_netcdf3


def test_geotiff_roundtrip_and_structure(tmp_path=None):
    d = tempfile.mkdtemp()
    try:
        p = os.path.join(d, "r.tif")
        a = np.arange(12, dtype=np.float32).reshape(3, 4) / 7.0
        a[1, 2] = -9999.0
        write_geotiff(p, a, west=-126.0, north=40.0, dx=0.1, dy=0.2)
        raw = open(p, "rb").read()
        assert raw[:4] == b"II*\x00"  # little-endian TIFF magic
        got = read_geotiff(p)
        np.testing.assert_array_equal(got["data"], a)
        assert got["data"].dtype == np.float32
        assert (got["west"], got["north"], got["dx"], got["dy"]) == (
            -126.0, 40.0, 0.1, 0.2)
        assert got["nodata"] == -9999.0
        # GeoTIFF keys: geographic model, PixelIsArea, EPSG:4326
        assert got["geokeys"] == {1024: 2, 1025: 1, 2048: 4326}
    finally:
        shutil.rmtree(d)


def test_netcdf3_roundtrip_and_magic():
    d = tempfile.mkdtemp()
    try:
        p = os.path.join(d, "f.nc")
        lats = np.linspace(30, 31, 5)
        lons = np.linspace(-126, -124, 7)
        field = np.arange(35, dtype=np.float32).reshape(5, 7)
        write_netcdf3(
            p,
            dims={"lat": 5, "lon": 7},
            variables={
                "lat": (("lat",), lats, {"units": "degrees_north"}),
                "lon": (("lon",), lons, {"units": "degrees_east"}),
                "sst": (("lat", "lon"), field, {"_FillValue": np.float32(-9999)}),
            },
            global_attrs={"Conventions": "CF-1.6", "n_passes": 3},
        )
        assert open(p, "rb").read(4) == b"CDF\x01"
        got = read_netcdf3(p)
        assert got["dims"] == {"lat": 5, "lon": 7}
        assert got["attrs"]["Conventions"] == "CF-1.6"
        assert got["attrs"]["n_passes"] == 3
        np.testing.assert_array_equal(got["variables"]["lat"]["data"], lats)
        np.testing.assert_array_equal(got["variables"]["sst"]["data"], field)
        assert got["variables"]["sst"]["dims"] == ("lat", "lon")
        assert got["variables"]["sst"]["attrs"]["_FillValue"] == np.float32(-9999)
        assert got["variables"]["sst"]["data"].dtype == np.dtype(">f4")
        assert got["variables"]["lat"]["attrs"]["units"] == "degrees_north"
    finally:
        shutil.rmtree(d)


def test_gpkg_points_layer(spark):
    d = tempfile.mkdtemp()
    try:
        p = os.path.join(d, "stations.gpkg")
        df = spark.createDataFrame(
            pd.DataFrame(
                {
                    "station_id": ["46011", "46025"],
                    "lon": [-120.99, -119.05],
                    "lat": [34.96, 33.75],
                    "sst": [15.2, 16.8],
                }
            )
        )
        n = write_gpkg_points(df, p, layer="stations")
        assert n == 2
        con = sqlite3.connect(p)
        (app_id,) = con.execute("PRAGMA application_id").fetchone()
        assert app_id == 0x47504B47  # "GPKG"
        assert con.execute(
            "SELECT data_type, srs_id FROM gpkg_contents WHERE table_name='stations'"
        ).fetchone() == ("features", 4326)
        assert con.execute(
            "SELECT geometry_type_name FROM gpkg_geometry_columns "
            "WHERE table_name='stations'"
        ).fetchone() == ("POINT",)
        assert con.execute(
            "SELECT definition LIKE '%WGS 84%' FROM gpkg_spatial_ref_sys "
            "WHERE srs_id=4326"
        ).fetchone() == (1,)
        con.close()
        feats = {r["station_id"]: r for r in read_gpkg_layer(p, "stations")}
        assert feats["46011"]["geometry"] == (-120.99, 34.96)
        assert feats["46025"]["sst"] == 16.8
    finally:
        shutil.rmtree(d)


def test_gpkg_contour_polygons(spark):
    """Advected contour trajectory → real GPKG polygon layer with
    area/perimeter properties (the reference's output layer shape)."""
    from pyofs_spark.operators.advection import (
        circle_contour,
        contour_metrics,
        rankine_vortex,
        track_contour_grouped,
    )

    d = tempfile.mkdtemp()
    try:
        p = os.path.join(d, "contours.gpkg")
        field = rankine_vortex(0.0, 0.0, 10_000.0, 1.0)
        seed = circle_contour(spark, 1.0, 4_000.0, 0.0, 2_000.0, n_vertices=12)
        traj = track_contour_grouped(spark, seed, field, 0.0, 60.0, 2)
        n = write_gpkg_polygons(
            traj, p, layer="contours", props=contour_metrics(traj)
        )
        assert n == 3  # steps 0..2
        feats = read_gpkg_layer(p, "contours")
        assert len(feats) == 3
        f0 = [f for f in feats if f["step"] == 0][0]
        ring = f0["geometry"][0]
        assert ring[0] == ring[-1] and len(ring) == 13  # closed, 12 verts
        # shoelace area of the written ring == the stored property
        xs = np.array([v[0] for v in ring])
        ys = np.array([v[1] for v in ring])
        shoelace = abs(np.sum(xs[:-1] * ys[1:] - xs[1:] * ys[:-1])) / 2
        assert abs(shoelace - f0["area"]) < 1e-6
        assert f0["n_vertices"] == 12
    finally:
        shutil.rmtree(d)


def test_export_raster_geotiff_northup(spark):
    """Sink integration: tile cells (j ascending = ascending lat) export
    north-up (row 0 = max lat), nodata-filled, float32 — K1 semantics on
    the real format."""
    from pyofs_spark.sources.sinks import cells_grid, export_raster_geotiff

    d = tempfile.mkdtemp()
    try:
        p = os.path.join(d, "grid.tif")
        cells = spark.createDataFrame(
            [(0, 0, 1.0), (1, 0, 2.0), (0, 1, 3.0), (1, 1, 4.0), (2, 1, None)],
            "i int, j int, mean_val double",
        )
        export_raster_geotiff(
            cells_grid(cells.toArrow()), p, west=-126.0, south=30.0, dx=0.5, dy=0.5
        )
        got = read_geotiff(p)
        # j=1 (northern row) must be ROW 0 in the file
        np.testing.assert_array_equal(
            got["data"], np.array(
                [[3.0, 4.0, -9999.0], [1.0, 2.0, -9999.0]], dtype=np.float32)
        )
        assert got["north"] == 31.0 and got["west"] == -126.0
    finally:
        shutil.rmtree(d)


def test_export_field_netcdf3(spark):
    from pyofs_spark.sources.sinks import cells_grid, export_field_netcdf3

    d = tempfile.mkdtemp()
    try:
        p = os.path.join(d, "f.nc")
        cells = spark.createDataFrame(
            [(0, 0, 10.0), (1, 1, 20.0)], "i int, j int, mean_val double"
        )
        lons = np.array([-126.0, -125.5])
        lats = np.array([30.0, 30.5])
        export_field_netcdf3(
            cells_grid(cells.toArrow(), len(lons), len(lats)), p, lons, lats, "sst"
        )
        got = read_netcdf3(p)
        np.testing.assert_array_equal(
            got["variables"]["sst"]["data"],
            np.array([[10.0, -9999.0], [-9999.0, 20.0]], dtype=">f4"),
        )
        np.testing.assert_array_equal(got["variables"]["lon"]["data"], lons)
    finally:
        shutil.rmtree(d)


def test_aaigrid_roundtrip():
    from pyofs_spark.sources.geotiff import read_aaigrid, write_aaigrid

    d = tempfile.mkdtemp()
    try:
        p = os.path.join(d, "g.asc")
        a = np.array([[1.5, -9999.0, 3.25], [4.0, 5.125, 6.75]])
        write_aaigrid(p, a, west=-126.0, south=30.0, cellsize=0.5)
        got = read_aaigrid(p)
        np.testing.assert_array_equal(got["data"], a)
        assert (got["west"], got["south"], got["cellsize"], got["nodata"]) == (
            -126.0, 30.0, 0.5, -9999.0)
        # header is the standard 6-line AAIGrid preamble
        head = open(p).read().splitlines()[:6]
        assert head[0].startswith("ncols") and head[5].startswith("NODATA_value")
    finally:
        shutil.rmtree(d)


def test_aaigrid_nan_first_row_maps_to_nodata():
    """Round-4 ADVICE fix: a NaN in row 0 must not be emitted as a literal
    'nan' token (which the bounded header scan would previously have eaten
    as a header key) — non-finite cells map to the declared nodata."""
    from pyofs_spark.sources.geotiff import read_aaigrid, write_aaigrid

    d = tempfile.mkdtemp()
    try:
        p = os.path.join(d, "g.asc")
        a = np.array([[np.nan, 2.0], [np.inf, -np.inf]])
        write_aaigrid(p, a, west=0.0, south=0.0, cellsize=1.0)
        got = read_aaigrid(p)
        np.testing.assert_array_equal(
            got["data"], [[-9999.0, 2.0], [-9999.0, -9999.0]]
        )
        assert "nan" not in open(p).read().lower().replace("nodata", "")
    finally:
        shutil.rmtree(d)


def test_gpkg_raster_gridded_coverage_roundtrip(spark):
    """K3 (round 4): raster subdataset appended INTO a GeoPackage beside a
    vector layer — OGC 2D-gridded-coverage tiles (float TIFF blobs) with
    the mandated ancillary/extension tables; multi-tile round-trip."""
    from pyofs_spark.sources.gpkg import (
        read_gpkg_layer, read_gpkg_raster, write_gpkg_points,
        write_gpkg_raster,
    )

    d = tempfile.mkdtemp()
    try:
        p = os.path.join(d, "day.gpkg")
        # vector layer first (the reference's layered-GPKG usage)
        pts = spark.createDataFrame(
            [(46011, -124.5, 41.0)], "sid int, lon double, lat double"
        )
        write_gpkg_points(pts, p, "stations")
        # 5x7 raster with a 4-pixel tile size -> 2x2 tile matrix
        rng = np.arange(35, dtype=np.float32).reshape(5, 7)
        rng[0, 0] = -9999.0
        n = write_gpkg_raster(
            p, "sst_cov", rng, west=-126.0, north=35.0, dx=0.5, dy=0.5,
            tile_size=4,
        )
        assert n == 4
        got = read_gpkg_raster(p, "sst_cov")
        np.testing.assert_array_equal(got["data"], rng)
        assert (got["west"], got["north"], got["dx"], got["dy"],
                got["nodata"]) == (-126.0, 35.0, 0.5, 0.5, -9999.0)
        # both layers coexist; contents rows carry the right data_type
        assert len(read_gpkg_layer(p, "stations")) == 1
        import sqlite3 as _sq
        con = _sq.connect(p)
        kinds = dict(con.execute(
            "SELECT table_name, data_type FROM gpkg_contents"))
        con.close()
        assert kinds == {"stations": "features",
                         "sst_cov": "2d-gridded-coverage"}
    finally:
        shutil.rmtree(d)
