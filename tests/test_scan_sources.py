"""Real-format Spark READ sources (round 4): binaryFile + mapInPandas
decode of NetCDF-3 / GeoTIFF archives into long-form cell DataFrames, and
the file-to-file daily ETL loop (NetCDF in → GeoTIFF out — the reference's
entire ingest side is NetCDF reads, wcofs.py:179-208, rtofs.py:140-170)."""

from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np
from pyspark.sql import functions as F

from conftest import SF_DIR


def _cells_df(spark):
    """A 3x4 grid with one NULL (masked) cell and one absent cell."""
    rows = [
        (i, j, float(10 * j + i))
        for j in range(3)
        for i in range(4)
        if not (i == 2 and j == 1)
    ]
    rows = [(i, j, None if (i == 0 and j == 2) else v) for i, j, v in rows]
    return spark.createDataFrame(rows, "i int, j int, mean_val double")


def test_netcdf3_spark_scan_roundtrip(spark):
    from pyofs_spark.sources.scan import read_netcdf3_grid
    from pyofs_spark.sources.sinks import cells_grid, export_field_netcdf3

    d = tempfile.mkdtemp()
    try:
        lons = np.array([-126.0, -125.5, -125.0, -124.5])
        lats = np.array([32.0, 32.5, 33.0])
        export_field_netcdf3(
            cells_grid(_cells_df(spark).toArrow(), len(lons), len(lats)),
            os.path.join(d, "sst_day1.nc"),
            lons=lons, lats=lats, var_name="sst",
        )
        got = read_netcdf3_grid(spark, d).collect()
        assert len(got) == 12  # full lattice back
        by_ij = {(r.i, r.j): r for r in got}
        for j in range(3):
            for i in range(4):
                r = by_ij[(i, j)]
                assert r.variable == "sst"
                assert r.lon == lons[i] and r.lat == lats[j]
                if (i, j) in {(2, 1), (0, 2)}:  # absent + NULL → NULL
                    assert r.value is None
                else:
                    # float32 at the file edge, exact beyond that
                    assert r.value == float(np.float32(10 * j + i))
        # variable pruning
        assert (
            read_netcdf3_grid(spark, d, variables=["nope"]).count() == 0
        )
    finally:
        shutil.rmtree(d)


def test_geotiff_spark_scan_roundtrip(spark):
    from pyofs_spark.sources.scan import read_geotiff_raster
    from pyofs_spark.sources.sinks import cells_grid, export_raster_geotiff

    d = tempfile.mkdtemp()
    try:
        export_raster_geotiff(
            cells_grid(_cells_df(spark).toArrow(), 4, 3),
            os.path.join(d, "sst_day1.tif"),
            west=-126.0, south=32.0, dx=0.5, dy=0.5,
        )
        got = read_geotiff_raster(spark, d).collect()
        assert len(got) == 12
        by_ij = {(r.i, r.j): r for r in got}
        for j in range(3):
            for i in range(4):
                r = by_ij[(i, j)]
                assert r.variable == "sst_day1"
                assert abs(r.lon - (-126.0 + 0.5 * i)) < 1e-9
                assert abs(r.lat - (32.0 + 0.5 * j)) < 1e-9
                if (i, j) in {(2, 1), (0, 2)}:
                    assert r.value is None  # nodata → NULL, un-flipped j
                else:
                    assert r.value == float(np.float32(10 * j + i))
    finally:
        shutil.rmtree(d)


def test_daily_job_netcdf_in_geotiff_out(spark):
    """File-to-file loop: the daily job's NetCDF output, re-ingested
    through the Spark scan source, regridded by the job's lattice stage
    and written by its GeoTIFF sink, reproduces the GeoTIFF it sat beside:
    1-NN regrid of a lattice onto itself is the identity at data cells."""
    from pyofs_spark.jobs.daily import (
        LAT0, LON0, N_LAT, N_LON, STEP, build_day_raster, masked_cells, regrid_to_lattice,
    )
    from pyofs_spark.sources.geotiff import read_geotiff
    from pyofs_spark.sources.scan import read_netcdf3_grid
    from pyofs_spark.sources.sinks import cells_grid, export_raster_geotiff

    out = tempfile.mkdtemp()
    try:
        rasters = os.path.join(out, "rasters")
        build_day_raster(spark, SF_DIR, "sst", "2024-01-02", rasters)
        orig = read_geotiff(os.path.join(rasters, "sst_2024-01-02.tif"))

        # the non-null cells of the job's NetCDF are the scatter points
        field = read_netcdf3_grid(spark, rasters, variables=["sst"]).selectExpr(
            "CAST(j AS BIGINT) * 4096 + i AS point_id", "lon", "lat", "value"
        ).where("value IS NOT NULL")
        path = os.path.join(out, "sst_2024-01-02_from_nc.tif")
        northup = export_raster_geotiff(
            cells_grid(masked_cells(regrid_to_lattice(spark, field)), N_LON, N_LAT),
            path, west=LON0, south=LAT0, dx=STEP, dy=STEP,
        )
        again = read_geotiff(path)
        np.testing.assert_array_equal(northup, again["data"])
        # wherever the original raster carried data, the nc-ingested rerun
        # reproduces it exactly (same lattice, same mask, self-NN)
        mask = orig["data"] != -9999.0
        assert mask.any()
        np.testing.assert_array_equal(
            orig["data"][mask], again["data"][mask]
        )
    finally:
        shutil.rmtree(out)


def test_streaming_netcdf_granule_pickup(spark):
    """Streaming ingest: granules dropped into the directory surface as
    new rows, exactly once per file across triggers (file-source log)."""
    import numpy as np

    from pyofs_spark.sources.scan import stream_netcdf3_grid
    from pyofs_spark.sources.sinks import cells_grid, export_field_netcdf3

    d = tempfile.mkdtemp()
    chk = tempfile.mkdtemp()
    sink = tempfile.mkdtemp()
    try:
        lons, lats = np.array([0.0, 1.0]), np.array([5.0, 6.0])
        cells = cells_grid(
            spark.createDataFrame(
                [(0, 0, 1.0), (1, 1, 2.0)], "i int, j int, mean_val double"
            ).toArrow(),
            len(lons), len(lats),
        )
        export_field_netcdf3(
            cells, os.path.join(d, "g1.nc"), lons=lons, lats=lats,
            var_name="sst",
        )
        stream = stream_netcdf3_grid(spark, d)
        assert stream.isStreaming

        def run_trigger():
            # parquet sink: supports checkpoint recovery (exactly-once
            # across restarts), unlike the memory sink
            q = (
                stream.writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", chk)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(60)

        run_trigger()
        first = spark.read.parquet(sink).collect()
        assert len(first) == 4  # one 2x2 granule

        # second granule arrives; only ITS rows are new
        export_field_netcdf3(
            cells, os.path.join(d, "g2.nc"), lons=lons, lats=lats,
            var_name="sst",
        )
        run_trigger()
        rows = spark.read.parquet(sink).collect()
        assert len(rows) == 8
        by_file = {}
        for r in rows:
            by_file.setdefault(os.path.basename(r.path), []).append(r)
        assert set(by_file) == {"g1.nc", "g2.nc"}
        assert all(len(v) == 4 for v in by_file.values())  # exactly once
    finally:
        for q in spark.streams.active:
            q.stop()
        shutil.rmtree(d)
        shutil.rmtree(chk)
        shutil.rmtree(sink)


def test_streaming_geotiff_granule_pickup(spark):
    """GeoTIFF twin of the NetCDF streaming test: incremental pickup,
    exactly once per file, batch/stream decode parity."""
    import numpy as np

    from pyofs_spark.sources.scan import (
        read_geotiff_raster, stream_geotiff_raster,
    )
    from pyofs_spark.sources.sinks import cells_grid, export_raster_geotiff

    d, chk, sink = (tempfile.mkdtemp() for _ in range(3))
    try:
        cells = cells_grid(
            spark.createDataFrame(
                [(0, 0, 1.5), (1, 1, 2.5)], "i int, j int, mean_val double"
            ).toArrow(),
            2, 2,
        )
        export_raster_geotiff(
            cells, os.path.join(d, "t1.tif"),
            west=0.0, south=0.0, dx=1.0, dy=1.0,
        )

        def run_trigger():
            q = (
                stream_geotiff_raster(spark, d)
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", chk)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(60)

        run_trigger()
        assert spark.read.parquet(sink).count() == 4
        export_raster_geotiff(
            cells, os.path.join(d, "t2.tif"),
            west=0.0, south=0.0, dx=1.0, dy=1.0,
        )
        run_trigger()
        streamed = {
            (os.path.basename(r.path), r.i, r.j, r.value)
            for r in spark.read.parquet(sink).collect()
        }
        assert len(streamed) == 8
        # stream decode == batch decode, per cell
        batch = {
            (os.path.basename(r.path), r.i, r.j, r.value)
            for r in read_geotiff_raster(spark, d).collect()
        }
        assert streamed == batch
    finally:
        for q in spark.streams.active:
            q.stop()
        for x in (d, chk, sink):
            shutil.rmtree(x)


def test_aaigrid_spark_scan(spark):
    """Third raster format through the Spark scan shape: AAIGrid cells
    with lattice coords (write→scan round-trips the sample points
    verbatim, same convention as GeoTIFF — ADVICE r4), un-flipped j,
    nodata → NULL."""
    from pyofs_spark.sources.geotiff import write_aaigrid
    from pyofs_spark.sources.scan import read_aaigrid_raster

    d = tempfile.mkdtemp()
    try:
        a = np.array([[9.0, -9999.0], [1.0, 2.0]])  # north-up rows
        write_aaigrid(
            os.path.join(d, "dem.asc"), a, west=10.0, south=40.0,
            cellsize=2.0,
        )
        got = {(r.i, r.j): r for r in read_aaigrid_raster(spark, d).collect()}
        assert len(got) == 4
        # north-up row 0 = top → j=1 after unflip
        assert got[(0, 1)].value == 9.0 and got[(1, 1)].value is None
        assert got[(0, 0)].value == 1.0 and got[(1, 0)].value == 2.0
        r = got[(1, 0)]
        assert r.variable == "dem"
        assert (r.lon, r.lat) == (10.0 + 1 * 2.0, 40.0 + 0 * 2.0)
    finally:
        shutil.rmtree(d)


def test_gpkg_vector_spark_scan_roundtrip(spark):
    """write_gpkg_points / write_gpkg_polygons → Spark scan read-back →
    identical rows (round 5 — the last format-loop asymmetry)."""
    import json

    from pyofs_spark.sources.gpkg import write_gpkg_points, write_gpkg_polygons
    from pyofs_spark.sources.scan import read_gpkg_vector

    d = tempfile.mkdtemp()
    try:
        pts = spark.createDataFrame(
            [(-125.0, 40.0, "46001", 4.5), (-124.0, 41.0, "46002", None)],
            "lon double, lat double, station string, sst double",
        )
        gp = os.path.join(d, "day.gpkg")
        write_gpkg_points(pts, gp, "stations")
        verts = spark.createDataFrame(
            [(1, 0, 0, -125.0, 40.0), (1, 0, 1, -124.0, 40.0),
             (1, 0, 2, -124.5, 41.0)],
            "contour_id int, step int, vertex_idx int, x double, y double",
        )
        write_gpkg_polygons(verts, gp, "contours")

        got = read_gpkg_vector(spark, d).collect()
        by_layer: dict = {}
        for r in got:
            by_layer.setdefault(r.layer, []).append(r)

        st = sorted(by_layer["stations"], key=lambda r: r.fid)
        assert [(r.lon, r.lat) for r in st] == [(-125.0, 40.0), (-124.0, 41.0)]
        assert all(r.geom_type == "point" for r in st)
        a0 = json.loads(st[0].attrs)
        assert a0["station"] == "46001" and a0["sst"] == 4.5
        assert json.loads(st[1].attrs)["sst"] is None

        ct = sorted(by_layer["contours"], key=lambda r: (r.part, r.vertex))
        # WKB rings close explicitly: 3 distinct vertices + repeat of first
        assert [(r.lon, r.lat) for r in ct] == [
            (-125.0, 40.0), (-124.0, 40.0), (-124.5, 41.0), (-125.0, 40.0),
        ]
        assert all(r.geom_type == "polygon" for r in ct)

        # layer filter prunes
        assert {
            r.layer for r in read_gpkg_vector(spark, d, layer="stations").collect()
        } == {"stations"}
    finally:
        shutil.rmtree(d)


def test_gpkg_layer_names_holding_a_double_quote_round_trip(spark):
    """A layer named `a"b` is written and read back by every GPKG writer,
    byte-level reader and Spark scan."""
    import numpy as np

    from pyofs_spark.sources.gpkg import (
        read_gpkg_layer, read_gpkg_raster, write_gpkg_points, write_gpkg_raster,
    )
    from pyofs_spark.sources.scan import read_gpkg_coverage, read_gpkg_vector

    d = tempfile.mkdtemp()
    try:
        gp = os.path.join(d, "day.gpkg")
        pts = spark.createDataFrame([(-125.0, 40.0, 1)], "lon double, lat double, n int")
        write_gpkg_points(pts, gp, 'a"b')
        a = np.array([[1.0, 2.0], [3.0, 4.0]], np.float32)
        write_gpkg_raster(gp, 'c"d', a, west=-126.0, north=41.0, dx=0.5, dy=0.5)

        (rec,) = read_gpkg_layer(gp, 'a"b')
        assert rec["geometry"] == (-125.0, 40.0) and rec["n"] == 1
        assert np.array_equal(read_gpkg_raster(gp, 'c"d')["data"], a)
        (row,) = read_gpkg_vector(spark, d, layer='a"b').collect()
        assert (row.layer, row.lon, row.lat) == ('a"b', -125.0, 40.0)
        cells = read_gpkg_coverage(spark, d).collect()
        assert {r.variable for r in cells} == {'c"d'} and len(cells) == 4
    finally:
        shutil.rmtree(d)


def test_gpkg_coverage_spark_scan_roundtrip(spark):
    """write_gpkg_raster → Spark coverage scan → identical cells through
    the same long-form schema as the GeoTIFF scan (nodata → NULL, j
    ascending-lat, lattice lon/lat)."""
    from pyofs_spark.sources.gpkg import write_gpkg_raster
    from pyofs_spark.sources.scan import read_gpkg_coverage

    d = tempfile.mkdtemp()
    try:
        a = np.array([[1.0, 2.0, 3.0], [4.0, np.nan, 6.0]])  # north-up
        a_for_write = np.where(np.isfinite(a), a, -9999.0)
        gp = os.path.join(d, "cov.gpkg")
        write_gpkg_raster(
            gp, "sst_cov", a_for_write, west=-126.0, north=41.0,
            dx=0.5, dy=0.5, tile_size=2,  # forces 2x1 padded tile grid
        )
        got = {(r.i, r.j): r for r in read_gpkg_coverage(spark, d).collect()}
        assert len(got) == 6
        # north-up row 0 (values 1,2,3) is the TOP → j=1 after unflip
        assert got[(0, 1)].value == 1.0 and got[(2, 1)].value == 3.0
        assert got[(0, 0)].value == 4.0 and got[(1, 0)].value is None
        r = got[(2, 0)]
        assert r.variable == "sst_cov" and r.value == 6.0
        assert (r.lon, r.lat) == (-126.0 + 2 * 0.5, 41.0 - 2 * 0.5 + 0 * 0.5)
    finally:
        shutil.rmtree(d)
