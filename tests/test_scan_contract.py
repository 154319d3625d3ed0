"""One lattice written as each gridded format scans to the same long-form
cells: j ascending-lat, lon/lat at the lattice sample points, nodata →
NULL. And the file stream honours maxFilesPerTrigger."""

from __future__ import annotations

import os

import numpy as np

from pyofs_spark.sources.geotiff import write_aaigrid, write_geotiff
from pyofs_spark.sources.gpkg import write_gpkg_raster
from pyofs_spark.sources.sinks import export_field_netcdf3


def _lattice():
    """4x3 lattice (row j = ascending lat) with a nodata cell at (i=2, j=1)."""
    grid = np.arange(12, dtype=np.float32).reshape(3, 4) - 5.0
    grid[1, 2] = -9999.0
    lons = -126.0 + 0.5 * np.arange(4)
    lats = 32.0 + 0.5 * np.arange(3)  # square: AAIGrid has one cellsize
    return grid, lons, lats


def test_one_lattice_scans_to_the_same_cells_in_every_format(spark, tmp_path):
    from pyofs_spark.sources.scan import (
        read_aaigrid_raster, read_geotiff_raster, read_gpkg_coverage,
        read_netcdf3_grid,
    )

    grid, lons, lats = _lattice()
    d = str(tmp_path)
    north = lats[0] + len(lats) * 0.5  # outer edge of the top pixel row
    export_field_netcdf3(
        grid, os.path.join(d, "sst.nc"), lons=lons, lats=lats, var_name="sst"
    )
    write_geotiff(os.path.join(d, "sst.tif"), grid[::-1], lons[0], north,
                  0.5, 0.5)
    write_aaigrid(os.path.join(d, "sst.asc"), grid[::-1], lons[0], lats[0],
                  0.5)
    write_gpkg_raster(os.path.join(d, "cov.gpkg"), "sst", grid[::-1],
                      lons[0], north, 0.5, 0.5, tile_size=2)

    def cells(df):
        return sorted(
            (r.variable, r.i, r.j, r.lon, r.lat, r.value)
            for r in df.collect()
        )

    want = sorted(
        ("sst", i, j, float(lons[i]), float(lats[j]),
         None if (i, j) == (2, 1) else float(grid[j, i]))
        for j in range(3) for i in range(4)
    )
    for scan in (read_netcdf3_grid, read_geotiff_raster, read_aaigrid_raster,
                 read_gpkg_coverage):
        assert cells(scan(spark, d)) == want, scan.__name__


def test_stream_takes_max_files_per_trigger(spark, tmp_path):
    from pyofs_spark.sources.scan import stream_netcdf3_grid

    grid, lons, lats = _lattice()
    src, chk = tmp_path / "in", str(tmp_path / "chk")
    src.mkdir()
    for name in ("g1.nc", "g2.nc"):
        export_field_netcdf3(grid, str(src / name), lons=lons, lats=lats,
                             var_name="sst")
    q = (
        stream_netcdf3_grid(spark, str(src), max_files_per_trigger=1)
        .writeStream.format("memory").queryName("nc_one_per_trigger")
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
        files_per_batch = [
            p["sources"][0]["numInputRows"]
            for p in q.recentProgress
            if p["sources"][0]["numInputRows"]
        ]
        assert files_per_batch == [1, 1]
        assert spark.table("nc_one_per_trigger").count() == 2 * grid.size
    finally:
        q.stop()
