"""The daily raster ETL job — the reference's entry point #1 composed
end-to-end on this engine (round 3; ref lifecycle SURVEY §3.1,
main/leaflet/write_daily_average.py:632-709 → write_rasters wcofs.py:455-711).

Per (variable, day) partition, mirroring the reference's four stages plus
its publish/resume machinery:

  stage 1  scan + filters  — events-as-field scan, sanity filter (F6),
           time-range day filter (F3)                          [SCAN/FILTER]
  stage 2  daily mean per cell (A4/A2, nan-skipping)           [AGG]
  stage 3  1-NN regrid to the output lattice (J1)              [JOIN/RESAMPLE]
  stage 4  derive + mask + sink — polygon mask (J5), north-up
           flip + float32 + nodata at the edge (K1) to a REAL
           GeoTIFF, the grid to REAL NetCDF-3 (K4) and a REAL
           GeoPackage coverage (K3)                            [SINK]
  publish  dir-index JSON (K6) from the committed manifest + per-partition
           lineage commit through the versioned manifest (T1/F10): killing
           the job mid-run and re-invoking completes only missing
           (variable, day) partitions — tested. Each partition's input
           fingerprint covers the events files (path, size, mtime), the
           variable and the lattice, so a corrected input re-runs it.

Like the reference, each day raster is computed ONCE and every output is
written from it. Only the field scan and its aggregate run on executors:
  - the events scan declares its schema, so no job infers it;
  - the aggregated field (dimension-sized: ≤ 512 scatter points here) is
    executed by the one collect that also sizes it for the kNN path
    (operators/knn._inline_rows) and carries its values;
  - regrid + mask over the lattice (`regrid_to_lattice`) is one projection.
    A small lattice (16x12 here) is a LocalRelation, which Spark's
    optimizer evaluates on the driver with no job; a larger one is one
    map-only Spark job. Either way it is collected once as Arrow;
  - that one table feeds the GeoTIFF, GeoPackage and NetCDF-3 sinks (one
    numpy grid) and is the partition's lineage payload, which
    run_partitioned writes with pyarrow on the driver.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from ..lineage import run_partitioned
from ..operators.pip import pip_fixed
from ..operators.regrid import lattice, regrid_nearest_join
from ..sources.sinks import (
    cells_grid,
    export_field_netcdf3,
    export_raster_geotiff,
    manifest_index_json,
)

# output lattice (the reference's 0.04-degree viewer lattice, scaled to
# the sandbox fixture): a small window over the study area
LAT0, LON0, STEP, N_LON, N_LAT = 32.0, -126.0, 0.5, 16, 12
# the lattice stage is map-only: below this many cells per task, task
# launch cost outweighs the parallelism
LATTICE_CELLS_PER_TASK = 65_536
# a lattice of at most this many cells (a 16x12 day raster) is evaluated on
# the driver, interpreted, with no Spark job. Against a 120-point field the
# driver costs about 0.15 ms per cell and one Spark job about 0.5-0.7 s, so
# the job wins from about 1,300 cells (repeated field, code cache warm) to
# 3,000 cells (new field). Kept apart from LATTICE_CELLS_PER_TASK, which
# sizes the tasks of the larger lattices.
LOCAL_LATTICE_CELLS = 2_048
# the events columns field_for_day reads, typed as Spark infers them from
# the fixtures: declaring them skips the schema-inference job of each scan
EVENTS_SCHEMA = "event_id bigint, ts timestamp_ntz, user_id bigint, value double"


def field_for_day(
    spark: SparkSession, sf_dir: str, variable: str, day: str
) -> DataFrame:
    """Stages 1-2: scan events-as-field, sanity-filter, day filter, daily
    nan-skipping mean per scattered source point (i, j indices reused as
    the scatter ids; lon/lat derived deterministically)."""
    ev = spark.read.schema(EVENTS_SCHEMA).parquet(os.path.join(sf_dir, "events.parquet"))
    day_lit = F.to_date(F.lit(day))
    mod = {"sst": 0, "ssh": 1}[variable]
    f = (
        ev.filter(F.to_date("ts") == day_lit)
        .filter(F.col("event_id") % 2 == mod)
        .withColumn("i", F.pmod(F.col("user_id"), F.lit(40)))
        .withColumn("j", F.pmod(F.col("user_id") * 7 + 3, F.lit(30)))
        .withColumn("v", F.when(F.col("value") < 1e10, F.col("value")))  # F6
    )
    return (
        f.groupBy("i", "j")
        .agg(F.avg("v").alias("value"))  # A2 nan-skipping daily mean
        .withColumn("point_id", F.col("j") * 40 + F.col("i"))
        .withColumn("lon", F.lit(LON0) + F.col("i") * 0.25)
        .withColumn("lat", F.lit(LAT0) + F.col("j") * 0.25)
    )


def field_from_netcdf(
    spark: SparkSession, nc_path: str, variable: str
) -> DataFrame:
    """Stage-1 alternative (round 4): scattered source field ingested from
    a NetCDF-3 archive through the binaryFile scan source — the engine
    analog of the reference's whole ingest side (xarray over NetCDF
    granules, wcofs.py:179-208). Non-null cells become the scatter points;
    point_id is the (j, i) row-major cell index."""
    from ..sources.scan import read_netcdf3_grid

    g = read_netcdf3_grid(spark, nc_path, variables=[variable])
    return g.filter(F.col("value").isNotNull()).select(
        (F.col("j").cast("long") * 4096 + F.col("i")).alias("point_id"),
        "lon",
        "lat",
        "value",
    )


def regrid_to_lattice(
    spark: SparkSession,
    src: DataFrame,
    values: tuple[str, ...] = ("value",),
    mask: bool = True,
    lon0: float = LON0,
    lat0: float = LAT0,
    step: float = STEP,
    n_lon: int = N_LON,
    n_lat: int = N_LAT,
) -> pa.Table:
    """Stage 3 (+ the J5 mask), shared by every day-raster builder: 1-NN
    regrid of the source field onto the output lattice — values[0] is the
    regridded value, the rest ride the same neighbor — then the polygon
    mask, as ONE projection collected once as Arrow. Columns:
    query_id, gi, gj, lon, lat, *values[, polygon_id].

    The field is collected once (to size and fetch it). A lattice of at
    most LOCAL_LATTICE_CELLS cells is a LocalRelation, so with an
    inline-sized field the whole projection runs on the driver and starts
    no Spark job; a larger lattice is one map-only job."""
    cells = n_lon * n_lat
    tasks = None if cells <= LOCAL_LATTICE_CELLS else -(-cells // LATTICE_CELLS_PER_TASK)
    tgt = lattice(spark, lon0, lat0, step, n_lon, n_lat, partitions=tasks)
    nn = regrid_nearest_join(
        src, tgt, value_col=values[0], res=6, max_ring=8, carry=values[1:]
    )
    cols = ["query_id", "gi", "gj", "lon", "lat", *values]
    if mask:
        nn, cols = pip_fixed(nn), cols + ["polygon_id"]
    return _collect_arrow(nn.select(*cols))


def _collect_arrow(df: DataFrame) -> pa.Table:
    """df as toArrow() returns it. A plan the optimizer folded into a
    LocalRelation is already evaluated: collect() reads it with no Spark
    job, where toArrow() would launch one."""
    if df._jdf.queryExecution().optimizedPlan().nodeName() != "LocalRelation":
        return df.toArrow()
    schema = to_arrow_schema(
        df.schema, prefers_large_types=df.sparkSession._jconf.arrowUseLargeVarTypes()
    )
    columns = list(zip(*df.collect())) or [()] * len(schema)
    return pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(columns, schema)], schema=schema
    )


def masked_cells(cells: pa.Table) -> pa.Table:
    """(i, j, mean_val) of a masked lattice: cells outside every study
    polygon → NULL (nodata at the sink)."""
    inside = pc.is_valid(cells["polygon_id"])
    return pa.table({
        "i": cells["gi"],
        "j": cells["gj"],
        "mean_val": pc.if_else(inside, cells["value"], None),
    })


def build_day_raster_from_netcdf(
    spark: SparkSession, nc_path: str, variable: str, day: str, out_dir: str
) -> "np.ndarray":
    """File-to-file ETL (round 4 — closes the loop the reference runs
    daily: NetCDF granules IN, masked north-up GeoTIFF OUT,
    write_daily_average.py:632-709). Stages 3-4 of build_day_raster over a
    NetCDF-ingested source field; returns the north-up array written."""
    cells = regrid_to_lattice(spark, field_from_netcdf(spark, nc_path, variable))
    os.makedirs(out_dir, exist_ok=True)
    return export_raster_geotiff(
        cells_grid(masked_cells(cells), N_LON, N_LAT),
        os.path.join(out_dir, f"{variable}_{day}_from_nc.tif"),
        west=LON0, south=LAT0, dx=STEP, dy=STEP,
    )


def build_day_raster(
    spark: SparkSession, sf_dir: str, variable: str, day: str, out_dir: str
) -> pa.Table:
    """Stages 3-4 for one (variable, day): regrid to the lattice, polygon
    mask, export real GeoTIFF + GeoPackage + NetCDF from one collected
    grid; returns the lattice rows written (the partition's parquet payload
    for the lineage table) as an Arrow table."""
    cells = regrid_to_lattice(spark, field_for_day(spark, sf_dir, variable, day))
    grid = cells_grid(masked_cells(cells), N_LON, N_LAT)
    os.makedirs(out_dir, exist_ok=True)
    northup = export_raster_geotiff(
        grid, os.path.join(out_dir, f"{variable}_{day}.tif"),
        west=LON0, south=LAT0, dx=STEP, dy=STEP,
    )
    # K3: the same raster appended as a 2D-gridded-coverage subdataset in
    # the day's GeoPackage (the reference's third raster container)
    from ..sources.gpkg import write_gpkg_raster

    write_gpkg_raster(
        os.path.join(out_dir, f"{day}.gpkg"), f"{variable}_cov", northup,
        west=LON0, north=LAT0 + N_LAT * STEP, dx=STEP, dy=STEP,
        field_name=variable,
    )
    export_field_netcdf3(
        grid, os.path.join(out_dir, f"{variable}_{day}.nc"),
        lons=np.array([LON0 + i * STEP for i in range(N_LON)]),
        lats=np.array([LAT0 + j * STEP for j in range(N_LAT)]),
        var_name=variable,
    )
    return cells


def input_fingerprint(sf_dir: str) -> str:
    """What a day partition's output depends on besides its key: the path,
    size and mtime of every events file, and the lattice constants."""
    root = os.path.join(sf_dir, "events.parquet")
    files = [root] if os.path.isfile(root) else sorted(
        os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs
    )
    stats = [(f, os.stat(f).st_size, os.stat(f).st_mtime_ns) for f in files]
    return json.dumps(
        {"events": stats, "lattice": [LAT0, LON0, STEP, N_LON, N_LAT]}
    )


def run_daily_job(
    spark: SparkSession,
    sf_dir: str,
    out_root: str,
    variables: tuple[str, ...] = ("sst", "ssh"),
    days: tuple[str, ...] = ("2024-01-02", "2024-01-03"),
) -> dict:
    """The full daily driver: one lineage partition per (variable, day),
    resumable/idempotent via the manifest anti-join (a partition re-runs
    when its input fingerprint changed); writes the dir-index JSON of the
    committed partitions at the end (ref: write_daily_average.py:662-663)."""
    keys = [f"{v}__{d}" for v in variables for d in days]
    inputs = input_fingerprint(sf_dir)

    def fingerprint(key: str) -> str:
        return hashlib.sha1(f"{inputs}|{key}".encode()).hexdigest()

    def build(s: SparkSession, key: str) -> pa.Table:
        v, d = key.split("__")
        return build_day_raster(s, sf_dir, v, d, os.path.join(out_root, "rasters"))

    summary = run_partitioned(spark, out_root, keys, build, fingerprint=fingerprint)
    idx_path = os.path.join(out_root, "index.json")
    with open(idx_path, "w") as fh:
        fh.write(manifest_index_json(out_root))
    summary["index_json"] = idx_path
    return summary
