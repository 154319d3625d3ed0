"""Point-in-polygon join.

Two execution paths, one semantic contract (even-odd ray cast, see
functions/polygons.py):

A. **Fixed-polygon codegen path** — for polygons known at plan time (the
   study-area case, exactly how the reference uses ONE cached study polygon,
   viirs.py:248-269): the ray cast is unrolled into a pure SQL boolean via
   `pip_sql`, so the whole predicate lives inside whole-stage codegen and
   the bbox conjunct pushes down to the parquet scan. Zero Python.

B. **Broadcast-dim + pandas-UDF path** — for polygon tables unknown at plan
   time: polygons (long form: polygon_id, ring_idx, vertex_idx, lon, lat)
   are collected to a broadcast variable (they are dimension-sized), pages
   are prefiltered by a cell-cover join (cells overlapping each polygon's
   bbox at `res`), then an Arrow-vectorized pandas UDF runs the exact
   numpy ray cast per (candidate page, polygon). It is the only path for
   large polygons: path A's SQL, or the same filter written as `pip_sql`
   under a CASE on polygon_id, grows with the vertex count, and Spark
   fails to parse it at 1,000 vertices.

At 10^12 rows path B's prefilter is what keeps the UDF off the hot path:
only pages whose cell intersects some polygon bbox reach Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from ..functions import cells
from ..functions import polygons as P
from ..functions.sqlgen import ident, slit


def pip_fixed(df: DataFrame, lon: str = "lon", lat: str = "lat",
              polys: dict | None = None) -> DataFrame:
    """Path A: add one boolean column per fixed polygon + a `polygon_id`
    column naming the first containing polygon (priority = dict order,
    mirroring the reference's first-source-wins coalesce, wcofs.py:179-208).
    A row whose lon or lat is NULL gets NULL `in_*` and a NULL polygon_id.
    Columns of df with the output names are replaced (the new ones come
    last); a polygon key may hold any character.

    One projection from one SQL select list: `polygon_id` reads the `in_*`
    columns as lateral aliases of the same list. A lateral alias loses to a
    column of df with the same name, hence the drop. The SQL grows with the
    vertex count: a polygon of 1,000 vertices fails to parse
    (FAILED_TO_PARSE_TOO_COMPLEX), so such polygons take path B."""
    polys = polys if polys is not None else P.POLYGONS
    outs = {f"in_{pid}" for pid in polys} | {"polygon_id"}
    clash = [c for c in df.columns if c in outs]
    if clash:
        df = df.drop(*clash)
    flags = {pid: ident(f"in_{pid}") for pid in polys}
    cases = " ".join(f"WHEN {flags[pid]} THEN {slit(pid)}" for pid in polys)
    return df.selectExpr(
        "*",
        *[f"{P.pip_sql(lon, lat, rings)} AS {flags[pid]}" for pid, rings in polys.items()],
        f"CASE {cases} END AS polygon_id",
    )


def polygon_bbox_cells(rings, res: int) -> list[int]:
    """Conservative cell cover: every cell whose bbox intersects the polygon
    bbox (coarse but plan-time-cheap; exact test follows the join)."""
    x0, y0, x1, y1 = P.polygon_bbox(rings)
    size = cells.cell_size_deg(res)
    nx = cells.nx(res)
    cx0 = max(0, min(nx - 1, int((x0 + 180.0) // size)))
    cx1 = max(0, min(nx - 1, int((x1 + 180.0) // size)))
    cy0 = max(0, min(cells.ny(res) - 1, int((y0 + 90.0) // size)))
    cy1 = max(0, min(cells.ny(res) - 1, int((y1 + 90.0) // size)))
    return [y * nx + x for y in range(cy0, cy1 + 1) for x in range(cx0, cx1 + 1)]


def pip_join_broadcast(
    spark: SparkSession,
    points: DataFrame,
    polygons_long: DataFrame,
    res: int = 4,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Path B: inner-join points to every polygon that contains them.

    polygons_long: (polygon_id, ring_idx, vertex_idx, lon, lat).
    Returns points columns + polygon_id (one row per containment).
    """
    # 1. collect the dim table (small by contract) and build ring arrays
    rows = polygons_long.orderBy("polygon_id", "ring_idx", "vertex_idx").collect()
    by_pid: dict[str, dict[int, list[tuple[float, float]]]] = {}
    for r in rows:
        by_pid.setdefault(r["polygon_id"], {}).setdefault(r["ring_idx"], []).append(
            (r[lon], r[lat])
        )
    poly_rings = {
        pid: [ring for _, ring in sorted(rings.items())] for pid, rings in by_pid.items()
    }
    bc = spark.sparkContext.broadcast(poly_rings)

    # 2. cell-cover prefilter: (cell → polygon_id) dim, broadcast-joined
    cover_rows = [
        (int(c), pid)
        for pid, rings in poly_rings.items()
        for c in polygon_bbox_cells(rings, res)
    ]
    cover = F.broadcast(
        spark.createDataFrame(cover_rows, "cell bigint, polygon_id string").dropDuplicates()
    )
    pts = points.withColumn("_cell", F.expr(cells.cell_id_sql(lon, lat, res)))
    cand = pts.join(cover, pts["_cell"] == cover["cell"], "inner").drop("cell", "_cell")

    # 3. exact vectorized ray cast per candidate row
    @F.pandas_udf(BooleanType())
    def _contains(plon: pd.Series, plat: pd.Series, pid: pd.Series) -> pd.Series:
        out = np.zeros(len(plon), dtype=bool)
        for p in pid.unique():
            m = (pid == p).to_numpy()
            rings = bc.value[p]
            out[m] = P.pip_numpy(plon.to_numpy()[m], plat.to_numpy()[m], rings)
        return pd.Series(out)

    return cand.filter(_contains(F.col(lon), F.col(lat), F.col("polygon_id")))
