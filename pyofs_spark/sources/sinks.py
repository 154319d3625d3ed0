"""Sinks: tile tables with the reference's raster-write semantics, the
real-format raster exports, and the dir-index manifest.

Reference semantics preserved exactly (SURVEY §4 "physical execution
notes"):
- float32 at the sink, float64 internally (ref: wcofs.py:659, rtofs.py:390)
- NaN→nodata −9999.0 applied AT THE EDGE only (ref: wcofs.py:682-683,
  PyOFS/__init__.py:20) — internal tables keep NULL
- average-resampled overview pyramid levels written alongside level 0
  (ref: wcofs.py:707-711, overview_levels PyOFS/__init__.py:202-209)
- output partitioned by (variable, day, cell_prefix) — the layout that
  makes Iceberg/parquet partition pruning fire for the reference's
  per-(variable, date) access pattern (write_daily_average.py:289-349)
- dir-index manifest (ref: write_json.py:15-48) — for a lineage-managed
  output, from the committed manifest snapshot, not a filesystem walk, so
  a partition directory left uncommitted by a crash is never listed
  (`manifest_index_json`); `dir_index_json` walks a plain tile-table tree,
  which has no manifest.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import NODATA


def write_tile_table(
    tiles: DataFrame,
    path: str,
    overview_levels: int = 3,
    mode: str = "overwrite",
) -> None:
    """tiles: (variable string, day date, i long, j long, value double).

    Writes level-0 + overview levels, float32 values, nodata-filled,
    partitioned by (variable, day, level)."""
    base = tiles.groupBy("variable", "day", "i", "j").agg(
        F.sum("value").alias("val_sum"), F.count("value").alias("val_cnt")
    )
    lv0 = base.select(
        "variable", "day", F.lit(0).alias("level"), "i", "j",
        (F.col("val_sum") / F.col("val_cnt")).alias("mean_val"),
        F.col("val_cnt").alias("n"),
    )
    # group-aware rollup: carry (variable, day) through the levels
    cur = base
    frames = [lv0]
    for lv in range(1, overview_levels + 1):
        cur = (
            cur.groupBy(
                "variable", "day",
                F.floor(F.col("i") / 2).alias("i"),
                F.floor(F.col("j") / 2).alias("j"),
            )
            .agg(F.sum("val_sum").alias("val_sum"), F.sum("val_cnt").alias("val_cnt"))
        )
        frames.append(
            cur.select(
                "variable", "day", F.lit(lv).alias("level"), "i", "j",
                (F.col("val_sum") / F.col("val_cnt")).alias("mean_val"),
                F.col("val_cnt").alias("n"),
            )
        )
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    # edge semantics: float32 + nodata fill (ONLY here)
    out = out.withColumn(
        "mean_val",
        F.coalesce(F.col("mean_val"), F.lit(NODATA)).cast("float"),
    )
    out.write.mode(mode).partitionBy("variable", "day", "level").parquet(path)


def dir_index_json(path: str) -> str:
    """Manifest of a tile-table tree (ref: write_json.py:15-48) — nested
    dict of partition directories. On Iceberg this is a metadata-table query."""
    tree: dict = {}
    for root, dirs, files in os.walk(path):
        rel = os.path.relpath(root, path)
        if rel == ".":
            continue
        node = tree
        for part in rel.split(os.sep):
            node = node.setdefault(part, {})
        n_parquet = sum(1 for f in files if f.endswith(".parquet"))
        if n_parquet:
            node["_files"] = n_parquet
    return json.dumps(tree, sort_keys=True)


def manifest_index_json(out_root: str) -> str:
    """Dir-index of a lineage-managed output (ref: write_json.py:15-48):
    one node per partition in the committed manifest snapshot, with its row
    count. An orphan `part_key=` directory left by a crash is not listed."""
    from ..lineage import Manifest

    parts = Manifest(out_root).current()["partitions"]
    return json.dumps(
        {e["path"]: {"n_rows": e["n_rows"]} for e in parts.values()},
        sort_keys=True,
    )


def read_tiles(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


# ---------------------------------------------------------------------------
# REAL file-format exports (round 3): GeoTIFF / NetCDF-3 / GeoPackage via
# the pure-stdlib writers in geotiff.py / netcdf3.py / gpkg.py. One raster
# per (variable, day) is dimension-sized (exactly the reference's per-day
# export unit, wcofs.py:645-711): the caller collects its cells ONCE (as
# Arrow), cells_grid assembles the grid, and every sink writes that array;
# the heavy aggregation stays distributed in write_tile_table.
# ---------------------------------------------------------------------------


def cells_grid(
    cells: "pa.Table",
    n_i: int | None = None,
    n_j: int | None = None,
    i_col: str = "i",
    j_col: str = "j",
    val_col: str = "mean_val",
    nodata: float = NODATA,
) -> "np.ndarray":
    """Collected raster cells (i=col, j=row, j ascending = ascending lat)
    → float32 grid of shape (n_j, n_i), missing and NULL cells → nodata.
    Pass n_i/n_j (the caller-known lattice size) so a day whose top rows
    carry no data still yields the full grid; without them the dims are
    inferred from the cells present. Cells outside the grid are skipped:
    unguarded, a stray index would crash the export or — if negative —
    silently wrap to the opposite edge."""
    import numpy as np

    ci = cells[i_col].to_numpy().astype(np.int64)
    cj = cells[j_col].to_numpy().astype(np.int64)
    vals = cells[val_col].fill_null(nodata).to_numpy()
    ni = n_i if n_i is not None else int(ci.max(initial=-1)) + 1
    nj = n_j if n_j is not None else int(cj.max(initial=-1)) + 1
    grid = np.full((nj, ni), nodata, dtype=np.float32)
    ok = (0 <= ci) & (ci < ni) & (0 <= cj) & (cj < nj)
    grid[cj[ok], ci[ok]] = vals[ok]
    return grid


def export_raster_geotiff(
    grid: "np.ndarray",
    path: str,
    west: float,
    south: float,
    dx: float,
    dy: float,
    nodata: float = NODATA,
) -> "np.ndarray":
    """Export one raster grid (row j = ascending lat, as cells_grid builds
    it) as a real north-up float32 GeoTIFF: row order FLIPPED so row 0 is
    the northmost row (ref: wcofs.py:658-659,682-683). Returns the north-up
    array."""
    from .geotiff import write_geotiff

    northup = grid[::-1]
    write_geotiff(
        path, northup, west, south + grid.shape[0] * dy, dx, dy, nodata=nodata
    )
    return northup


def export_field_netcdf3(
    grid: "np.ndarray",
    path: str,
    lons: "np.ndarray",
    lats: "np.ndarray",
    var_name: str,
    nodata: float = NODATA,
    attrs: dict | None = None,
) -> None:
    """Export one gridded field (shape (len(lats), len(lons)), as cells_grid
    builds it) as a real classic NetCDF-3 file with lat/lon coordinate
    variables and a _FillValue'd float32 data variable (ref: the
    reference's to_netcdf outputs, rtofs.py:390)."""
    import numpy as np

    from .netcdf3 import write_netcdf3

    if grid.shape != (len(lats), len(lons)):
        raise ValueError(
            f"grid shape {grid.shape} != (lats, lons) {(len(lats), len(lons))}"
        )
    write_netcdf3(
        path,
        dims={"lat": len(lats), "lon": len(lons)},
        variables={
            "lat": (("lat",), np.asarray(lats, np.float64),
                    {"units": "degrees_north"}),
            "lon": (("lon",), np.asarray(lons, np.float64),
                    {"units": "degrees_east"}),
            var_name: (("lat", "lon"), grid.astype(np.float32, copy=False),
                       {"_FillValue": np.float32(nodata)}),
        },
        global_attrs=attrs or {"Conventions": "CF-1.6"},
    )
