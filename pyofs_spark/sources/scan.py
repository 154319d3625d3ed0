"""Real-format Spark READ sources (round 4 — VERDICT r03 task 4).

The reference's entire ingest side reads gridded binary files
(ref: PyOFS/model/wcofs.py:179-208, rtofs.py:140-170 — xarray open_dataset
over NetCDF granules); the engine-side analog is a binaryFile scan +
Arrow-batched mapInPandas decode that exposes each granule as long-form
cell rows, closing the S1–S7 loop at the file-format level: users can
point the engine at an existing NetCDF/GeoTIFF archive directly.

Scale shape: a batch binaryFile scan yields one row per file
(path, content) and Spark assigns files to tasks — the per-granule
parallelism the reference gets from its thread pool, but distributed and
elastic. Decode happens inside the executors (mapInPandas; the pure
numpy/stdlib parsers in netcdf3.py / geotiff.py), so a 10^5-granule
archive decodes at full cluster width with no driver involvement. The
`pathGlobFilter`/recursive options prune at the listing, and downstream
filters on (variable, i, j) prune decoded rows before the first shuffle.
Memory bound: one granule must fit in one task (the reference's own
per-file unit, wcofs.py:645-711); multi-GB granules would need a
range-request reader, out of scope here.

Every format shares one shape: `binary_files` is the (path, content)
source, batch or stream; `_scan` is the one mapInPandas decode loop; each
format contributes only a parser from one file's bytes to frames, and the
gridded formats end in the one long-form cell emitter `_cells`.
"""

from __future__ import annotations

import json
import os
import sqlite3
import tempfile
from collections.abc import Callable, Iterator
from contextlib import closing, contextmanager
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .geotiff import read_aaigrid_bytes, read_geotiff_bytes
from .gpkg import read_gpkg_layer, read_gpkg_raster
from .netcdf3 import read_netcdf3_bytes

_GRID_SCHEMA = (
    "path string, variable string, i int, j int, "
    "lon double, lat double, value double"
)
_VECTOR_SCHEMA = (
    "path string, layer string, fid long, geom_type string, "
    "part int, vertex int, lon double, lat double, attrs string"
)


def binary_files(
    spark: SparkSession,
    path: str,
    glob: str,
    stream: bool = False,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The (path, content) rows of the files under `path` matching `glob`:
    a batch binaryFile scan, or with `stream=True` a file stream that
    lists new files each trigger (at most `max_files_per_trigger` per
    micro-batch) and reads each one exactly once per checkpoint."""
    if stream:
        # streaming file sources require an explicit schema; binaryFile's
        # is fixed by the format
        reader = spark.readStream.format("binaryFile").schema(
            "path string, modificationTime timestamp, "
            "length long, content binary"
        )
        if max_files_per_trigger is not None:
            reader = reader.option(
                "maxFilesPerTrigger", str(max_files_per_trigger)
            )
    else:
        reader = spark.read.format("binaryFile")
    return (
        reader.option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
    )


def _scan(files: DataFrame, parse: Callable, schema: str) -> DataFrame:
    """The one decode loop: each file's frames are `parse(path, bytes)`."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path_, content in zip(pdf["path"], pdf["content"]):
                yield from parse(path_, bytes(content))

    return files.mapInPandas(_decode, schema)


def _cells(path, variable, grid, lons, lats) -> pd.DataFrame:
    """The one long-form cell emitter: rows of a (lat, lon) grid, i
    indexing lons and j lats (both ascending, the engine's lattice order)."""
    jj, ii = np.meshgrid(
        np.arange(len(lats)), np.arange(len(lons)), indexing="ij"
    )
    i, j = ii.ravel(), jj.ravel()
    return pd.DataFrame({
        "path": path, "variable": variable,
        "i": i.astype(np.int32), "j": j.astype(np.int32),
        "lon": lons[i], "lat": lats[j], "value": grid.ravel(),
    })


def _north_up(data, nodata, west, south, dx, dy):
    """A north-up raster (row 0 = northmost) → (grid, lons, lats) with
    rows back in ascending-lat order and nodata cells NaN."""
    grid = data.astype(np.float64)
    if nodata is not None:
        grid = np.where(grid == nodata, np.nan, grid)
    h, w = grid.shape
    return grid[::-1], west + np.arange(w) * dx, south + np.arange(h) * dy


def _stem(path: str) -> str:
    return path.rsplit("/", 1)[-1].rsplit(".", 1)[0]


def read_netcdf3_grid(
    spark: SparkSession,
    path: str,
    variables: list[str] | None = None,
    glob: str = "*.nc",
) -> DataFrame:
    """Scan classic NetCDF-3 granules → long-form cell DataFrame
    (path, variable, i, j, lon, lat, value).

    Emits every 2-D data variable laid out over a (lat, lon) dim pair with
    matching 1-D coordinate variables (the shape export_field_netcdf3
    writes and the reference's daily-average granules use); `_FillValue`
    cells surface as NULL (the repo's internal missing-value convention —
    nodata exists only at file edges, sinks.py docstring). i indexes lon,
    j indexes lat, both 0-based ascending."""
    return _scan(
        binary_files(spark, path, glob),
        partial(_netcdf_cells, variables),
        _GRID_SCHEMA,
    )


def stream_netcdf3_grid(
    spark: SparkSession,
    path: str,
    variables: list[str] | None = None,
    glob: str = "*.nc",
    max_files_per_trigger: int | None = None,
):
    """STREAMING NetCDF-3 granule ingest: readStream(binaryFile) + the
    same mapInPandas decode — new granules dropped into `path` surface as
    new cell rows, exactly-once per file via the file-source's processed
    log (the checkpointLocation belongs to the sink's writeStream).

    This is the reference's operational pattern (a cron loop polling for
    the day's new model/satellite granules, write_daily_average.py:620-658)
    as a real Structured Streaming source: the stream composes with the
    engine's windowed daily aggregation (streaming/daily.py) so
    granule-arrival → rollup needs no orchestration glue. Stateless
    decode → any watermark/window downstream owns the event-time story.

    Producers must publish granules ATOMICALLY (write to a temp name,
    then rename — write_netcdf3 does this since round 4; the glob
    excludes its '.tmp' suffix): the file source lists whatever matches,
    and a half-written granule would fail the decode for that batch."""
    return _scan(
        binary_files(spark, path, glob, stream=True,
                     max_files_per_trigger=max_files_per_trigger),
        partial(_netcdf_cells, variables),
        _GRID_SCHEMA,
    )


def _netcdf_cells(
    variables: list[str] | None, path: str, content: bytes
) -> Iterator[pd.DataFrame]:
    nc = read_netcdf3_bytes(content)
    coords = {
        name: v["data"].astype(np.float64)
        for name, v in nc["variables"].items()
        if v["dims"] == (name,)  # coordinate variable
    }
    for name, v in nc["variables"].items():
        if len(v["dims"]) != 2 or name in coords:
            continue
        if variables is not None and name not in variables:
            continue
        d_j, d_i = v["dims"]
        if d_j not in coords or d_i not in coords:
            continue
        grid = v["data"].astype(np.float64)
        fill = v["attrs"].get("_FillValue")
        if fill is not None:
            grid = np.where(grid == np.float64(fill), np.nan, grid)
        yield _cells(path, name, grid, coords[d_i], coords[d_j])


def stream_geotiff_raster(
    spark: SparkSession,
    path: str,
    glob: str = "*.tif",
    max_files_per_trigger: int | None = None,
):
    """STREAMING GeoTIFF raster ingest — the GeoTIFF twin of
    stream_netcdf3_grid (same binaryFile readStream shape, same atomic-
    publish requirement on producers, same exactly-once-per-file
    semantics via the file-source log)."""
    return _scan(
        binary_files(spark, path, glob, stream=True,
                     max_files_per_trigger=max_files_per_trigger),
        _geotiff_cells,
        _GRID_SCHEMA,
    )


def read_geotiff_raster(
    spark: SparkSession, path: str, glob: str = "*.tif"
) -> DataFrame:
    """Scan GeoTIFF rasters → long-form cell DataFrame
    (path, variable, i, j, lon, lat, value).

    `variable` is the file stem (GeoTIFF carries no variable name). The
    on-disk raster is north-up (row 0 = northmost, K1 flip semantics);
    rows are UN-flipped back to the engine's ascending-lat j index so a
    GeoTIFF read round-trips bit-for-bit against the cells that produced
    it: j = (h-1) - raster_row, lat = south + j*dy, lon = west + i*dx.
    Nodata cells surface as NULL."""
    return _scan(binary_files(spark, path, glob), _geotiff_cells, _GRID_SCHEMA)


def _geotiff_cells(path: str, content: bytes) -> Iterator[pd.DataFrame]:
    t = read_geotiff_bytes(content)
    south = t["north"] - t["data"].shape[0] * t["dy"]
    yield _cells(path, _stem(path), *_north_up(
        t["data"], t["nodata"], t["west"], south, t["dx"], t["dy"]
    ))


def read_aaigrid_raster(
    spark: SparkSession, path: str, glob: str = "*.asc"
) -> DataFrame:
    """Scan Arc/Info ASCII Grid rasters → long-form cell DataFrame
    (path, variable, i, j, lon, lat, value) — the third raster format the
    reference writes (driver='AAIGrid', wcofs.py:645-711), readable
    through the same binaryFile + mapInPandas shape as GeoTIFF/NetCDF.

    Coordinate convention (round-trip contract, ADVICE r4): this repo
    treats (xllcorner, yllcorner) as the SAMPLE POINT of the south-west
    lattice node — `write_aaigrid` writes the lattice origin verbatim, and
    this scan emits lon = xllcorner + i·cellsize (no half-cell offset), so
    write→scan round-trips bit-exactly and matches the GeoTIFF/NetCDF
    scans on the same lattice. (Strict Arc/Info semantics would put the
    corner half a cell south-west of the first sample; external AAIGrid
    files using that convention appear shifted by +cellsize/2 — shift
    lon/lat downstream if registering such files.) Rows un-flipped to
    ascending-lat j. Nodata → NULL."""
    return _scan(binary_files(spark, path, glob), _aaigrid_cells, _GRID_SCHEMA)


def _aaigrid_cells(path: str, content: bytes) -> Iterator[pd.DataFrame]:
    g = read_aaigrid_bytes(content)
    cs = g["cellsize"]
    yield _cells(path, _stem(path), *_north_up(
        g["data"], g["nodata"], g["west"], g["south"], cs, cs
    ))


# ---------------------------------------------------------------------------
# GPKG Spark scan (round 5 — VERDICT r04 task 5): existing GeoPackage
# archives read back through the same binaryFile + mapInPandas shape
# (ref: utilities.py:184-195 GPKG read helper + the study-area read at
# wcofs.py:67). GPKG is SQLite, and sqlite3 needs a FILE — each task
# stages the granule bytes to a tempfile and reuses the local gpkg.py
# parsers. One task per .gpkg file, same elasticity as the other
# binaryFile scans; a multi-GB single archive would need per-layer range
# reads, same documented bound as multi-GB NetCDF.
# ---------------------------------------------------------------------------


@contextmanager
def _staged_gpkg(content: bytes, data_type: str, layer: str | None):
    """Stage GeoPackage bytes to a temp file (sqlite3 cannot open from a
    buffer pre-3.36 deserialize) → (file path, the names of its
    `data_type` layers, only `layer` if given); unlinked on exit."""
    fd, db = tempfile.mkstemp(suffix=".gpkg")
    try:
        with os.fdopen(fd, "wb") as f:
            f.write(content)
        try:
            with closing(sqlite3.connect(db)) as con:
                names = [
                    r[0]
                    for r in con.execute(
                        "SELECT table_name FROM gpkg_contents WHERE data_type = ?",
                        (data_type,),
                    )
                ]
        except sqlite3.DatabaseError as e:
            raise ValueError(f"not a GeoPackage: {e}") from e
        yield db, [n for n in names if layer in (None, n)]
    finally:
        os.unlink(db)


def read_gpkg_vector(
    spark: SparkSession,
    path: str,
    layer: str | None = None,
    glob: str = "*.gpkg",
) -> DataFrame:
    """Scan GeoPackage FEATURE layers → long-form vertex DataFrame
    (path, layer, fid, geom_type, part, vertex, lon, lat, attrs-as-JSON).

    Points emit one row (part=0, vertex=0); polygons one row per ring
    vertex (part = ring index) — the same long-form shape the raster
    scans use, so downstream plans filter/join without per-layer schemas.
    Attribute columns (everything but fid/geom) serialize to a
    sorted-key JSON string; `layer=None` scans every feature layer in
    gpkg_contents."""
    return _scan(
        binary_files(spark, path, glob),
        partial(_gpkg_vertices, layer),
        _VECTOR_SCHEMA,
    )


def _gpkg_vertices(
    layer: str | None, path: str, content: bytes
) -> Iterator[pd.DataFrame]:
    with _staged_gpkg(content, "features", layer) as (db, layers):
        for lname in layers:
            rows = []
            for rec in read_gpkg_layer(db, lname):
                geom = rec.pop("geometry")
                fid = rec.pop("fid", None)
                attrs = json.dumps(rec, sort_keys=True)
                if isinstance(geom, tuple):  # point
                    rows.append(
                        (path, lname, fid, "point", 0, 0, geom[0], geom[1],
                         attrs)
                    )
                else:  # polygon rings
                    for p_i, ring in enumerate(geom):
                        for v_i, (x, y) in enumerate(ring):
                            rows.append(
                                (path, lname, fid, "polygon", p_i, v_i, x, y,
                                 attrs)
                            )
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "path", "layer", "fid", "geom_type",
                        "part", "vertex", "lon", "lat", "attrs",
                    ],
                )


def read_gpkg_coverage(
    spark: SparkSession,
    path: str,
    layer: str | None = None,
    glob: str = "*.gpkg",
) -> DataFrame:
    """Scan GeoPackage 2D-gridded-coverage raster layers → the SAME
    long-form cell schema as the GeoTIFF/NetCDF/AAIGrid scans
    (path, variable=layer, i, j, lon, lat, value): j ascending-lat,
    lon/lat at the lattice sample points, nodata → NULL. `layer=None`
    scans every coverage layer in gpkg_contents."""
    return _scan(
        binary_files(spark, path, glob),
        partial(_gpkg_coverage_cells, layer),
        _GRID_SCHEMA,
    )


def _gpkg_coverage_cells(
    layer: str | None, path: str, content: bytes
) -> Iterator[pd.DataFrame]:
    with _staged_gpkg(content, "2d-gridded-coverage", layer) as (db, layers):
        for lname in layers:
            c = read_gpkg_raster(db, lname)
            south = c["north"] - c["data"].shape[0] * c["dy"]
            yield _cells(path, lname, *_north_up(
                c["data"], c["nodata"], c["west"], south, c["dx"], c["dy"]
            ))
