"""Raster↔vector regrid operators — the reference's grid-interpolation
kernels re-expressed as Spark joins.

- `regrid_nearest_join` — scattered→lattice 1-NN transfer, the Spark twin of
  wcofs.interpolate_grid(..., 'nearest') (ref: PyOFS/model/wcofs.py:1791-1827),
  built on operators/knn.nn_value_join (inline literals or a two-pass cell
  join, exact (d², src_id) tie-break).
- `regrid_bilinear_regular` — bilinear interpolation of a REGULAR grid at
  query points (ref: xarray .interp, particle_contour.py:249-298): a
  closed-form equi-join of each query point to its enclosing cell's four
  corners (floor((x-x0)/dx)), entirely JVM-side.
- `regrid_linear_join` — scattered→points LINEAR interpolation, the Spark
  twin of griddata(method='linear') (ref: data_assimilation_validation.py:
  149-207): per-tile Delaunay + barycentric kernel (functions/delaunay.py)
  in applyInPandas, each value certified by its triangle's circumcircle,
  with doubling halos and one global gather for the residue, so the result
  equals the global triangulation.
- `asof_time_align` — nearest/backward time alignment of a field stack to
  query times (ref: rtofs.py:263-264 .sel(time, method='nearest');
  particle_contour.py:275-281 bfill/ffill) via the union-marker window
  pattern (one shuffle, no range explosion).
- `lattice` — build a regular output lattice DataFrame from bounds+step
  (ref: the 0.04° output lattice wcofs.py:567-581): spark.range (fully
  distributed, no driver materialization), or a driver-side LocalRelation
  for a lattice small enough to evaluate on the driver.
"""

from __future__ import annotations

import functools

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.sqlgen import flit
from ..session import materialize as _materialize
from .knn import nn_value_join


def lattice(
    spark: SparkSession,
    lon0: float,
    lat0: float,
    step: float,
    n_lon: int,
    n_lat: int,
    partitions: int | None = 32,
) -> DataFrame:
    """Regular output lattice as (query_id, gi, gj, lon, lat): gi = query_id
    % n_lon, gj = query_id // n_lon, lon = lon0 + gi * step and lat = lat0 +
    gj * step in doubles; query_id is non-nullable and the rest nullable.

    partitions=None builds the columns with numpy into an Arrow-built
    LocalRelation instead of spark.range: Spark's optimizer
    (ConvertToLocalRelation) then evaluates every projection over the
    lattice on the driver, with no job and no code generation."""
    n = n_lon * n_lat
    if partitions is None:
        q = np.arange(n, dtype=np.int64)
        gi, gj = q % n_lon, q // n_lon
        return spark.createDataFrame(pa.table(
            [q, gi, gj, float(lon0) + gi * float(step), float(lat0) + gj * float(step)],
            schema=pa.schema([
                pa.field("query_id", pa.int64(), nullable=False),
                *[pa.field(c, t) for c, t in (("gi", pa.int64()), ("gj", pa.int64()),
                                              ("lon", pa.float64()), ("lat", pa.float64()))],
            ]),
        ))
    return spark.range(0, n, 1, partitions).selectExpr(
        "id AS query_id",
        f"CAST(id % {n_lon} AS BIGINT) AS gi",
        f"CAST(floor(id / {n_lon}) AS BIGINT) AS gj",
    ).selectExpr(
        "*", f"{flit(lon0)} + gi * {flit(step)} AS lon", f"{flit(lat0)} + gj * {flit(step)} AS lat"
    )


def regrid_nearest_join(
    sources: DataFrame,
    targets: DataFrame,
    value_col: str = "value",
    res: int = 8,
    source_key: str = "point_id",
    target_key: str = "query_id",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """1-NN value transfer from scattered sources to target points.
    NaN/NULL sources are dropped first (interpolate_grid drops NaN cells,
    wcofs.py:1800-1807). Exactly matches kernels.regrid_nearest. `carry`
    source columns ride the same neighbor; returns every target column plus
    (source_key, value_col, *carry, dist2)."""
    return nn_value_join(
        targets,
        sources,
        value_col,
        res=res,
        query_key=target_key,
        point_key=source_key,
        carry=carry,
    )


def regrid_bilinear_regular(
    points: DataFrame,
    grid: DataFrame,
    lon0: float,
    lat0: float,
    step: float,
    n_lon: int,
    n_lat: int,
    grid_val: str = "value",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Bilinear interpolation of a regular grid at arbitrary points.

    grid: (gi, gj, value) on the lattice (lon0 + gi*step, lat0 + gj*step).
    Four equi-joins (one per corner) — broadcast when the grid is small,
    sort-merge on (gi, gj) otherwise; Catalyst picks. Out-of-domain → NULL
    (matches kernels.bilinear_interp boundary-inclusive clamping)."""
    fx = (F.col(lon) - F.lit(float(lon0))) / F.lit(float(step))
    fy = (F.col(lat) - F.lit(float(lat0))) / F.lit(float(step))
    p = (
        points.withColumn("_i0", F.least(F.lit(n_lon - 2), F.greatest(F.lit(0), F.floor(fx))).cast("long"))
        .withColumn("_j0", F.least(F.lit(n_lat - 2), F.greatest(F.lit(0), F.floor(fy))).cast("long"))
        .withColumn("_tx", fx - F.col("_i0"))
        .withColumn("_ty", fy - F.col("_j0"))
        .withColumn(
            "_ok",
            (fx >= 0) & (fx <= F.lit(float(n_lon - 1))) & (fy >= 0) & (fy <= F.lit(float(n_lat - 1))),
        )
    )
    g = grid.select("gi", "gj", F.col(grid_val).alias("_gv"))
    for corner, (di, dj) in {"00": (0, 0), "10": (1, 0), "01": (0, 1), "11": (1, 1)}.items():
        gc = g.select(
            (F.col("gi") - di).alias("_i0"),
            (F.col("gj") - dj).alias("_j0"),
            F.col("_gv").alias(f"_v{corner}"),
        )
        p = p.join(gc, ["_i0", "_j0"], "left")
    interp = (
        F.col("_v00") * (1 - F.col("_tx")) * (1 - F.col("_ty"))
        + F.col("_v10") * F.col("_tx") * (1 - F.col("_ty"))
        + F.col("_v01") * (1 - F.col("_tx")) * F.col("_ty")
        + F.col("_v11") * F.col("_tx") * F.col("_ty")
    )
    return p.withColumn(
        "v_interp", F.when(F.col("_ok"), interp)
    ).drop("_i0", "_j0", "_tx", "_ty", "_ok", "_v00", "_v10", "_v01", "_v11")


def regrid_linear_join(
    sources: DataFrame,
    targets: DataFrame,
    value_col: str = "value",
    tile_res: int = 4,
    target_key: str = "query_id",
) -> DataFrame:
    """Scattered-data LINEAR regrid (SURVEY J2): Delaunay + barycentric
    interpolation per tile via applyInPandas, equal to one global
    triangulation (griddata('linear'), data_assimilation_validation.py:
    149-207). Returns (target_key long, value_col double); no source id
    is carried.

    Certified adaptive-halo protocol:

    1. Targets are bucketed into quad tiles at `tile_res`; sources are
       replicated into every tile within n rings of their own, starting
       at n = 1. The kernel returns each query's value and the
       CIRCUMCIRCLE of its containing triangle. By the Delaunay
       empty-circle property, if that circle lies inside the region whose
       points were all replicated into the tile (tile bbox + n rings), no
       point anywhere can invalidate the triangle: it IS a global Delaunay
       triangle, and the value is certified.
    2. Uncertified queries (circle pokes outside the halo region, or no
       containing triangle locally) retry with n doubled. Only tiles that
       still have pending queries receive source replicas (semi-join).
    3. After three tiled passes, the residue (typically queries outside or
       near the global hull, or across wide voids) goes to ONE global
       gather group of all sources, whose results are all accepted.

    The loop stops as soon as no query is left, so a fully certified first
    pass runs nothing more. The result matches the global triangulation
    everywhere, up to the diagonal ambiguity of exactly cocircular quads,
    where both triangulations are valid (the scipy/qhull caveat).
    """
    from ..functions import cells as C
    from ..functions.delaunay import linear_interp_scattered

    size = C.cell_size_deg(tile_res)
    nx_t, ny_t = C.nx(tile_res), C.ny(tile_res)
    src0 = sources.filter(F.col(value_col).isNotNull()).select(
        "lon", "lat", F.col(value_col).alias("_v")
    )
    remaining = targets.select(
        F.col(target_key).cast("long").alias("_qid"), "lon", "lat"
    )

    def _frame(queries: DataFrame, n_halo: int | None) -> DataFrame:
        """Union-marker frame of the queries and their sources, grouped by
        `_g`: the tile, or one global group when n_halo is None."""
        if n_halo is None:
            q = queries.withColumn("_g", F.lit(0))
            s = src0.withColumn("_g", F.lit(0))
        else:
            q = queries.withColumn("_g", F.expr(C.cell_id_sql("lon", "lat", tile_res)))
            offsets = F.array(*[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx, dy in C.disk_offsets(n_halo)
            ])
            s = (
                src0.withColumn("_cx", F.expr(C.cell_x_sql("lon", tile_res)))
                .withColumn("_cy", F.expr(C.cell_y_sql("lat", tile_res)))
                .withColumn("_o", F.explode(offsets))
                .withColumn(
                    "_g",
                    F.least(F.lit(ny_t - 1), F.greatest(F.lit(0), F.col("_cy") + F.col("_o.dy")))
                    * nx_t
                    + F.pmod(F.col("_cx") + F.col("_o.dx") + nx_t, F.lit(nx_t)),
                )
                .join(q.select("_g").distinct(), "_g", "left_semi")
            )
        return q.select(
            "_g", "_qid", "lon", "lat",
            F.lit(None).cast("double").alias("_v"), F.lit(True).alias("_is_q"),
        ).unionByName(s.select(
            # a non-NULL _qid keeps the column int64 in pandas: with NULLs it
            # would become float64 and round ids above 2**53
            "_g", F.lit(0).cast("long").alias("_qid"), "lon", "lat",
            "_v", F.lit(False).alias("_is_q"),
        ))

    def _kernel(n_halo: int | None):
        def _interp(key, pdf):  # (key, data) grouped-map form
            qs = pdf[pdf["_is_q"]]
            ss = pdf[~pdf["_is_q"]]
            vals, ccx, ccy, ccr = linear_interp_scattered(
                ss["lon"].to_numpy(), ss["lat"].to_numpy(), ss["_v"].to_numpy(),
                qs["lon"].to_numpy(), qs["lat"].to_numpy(),
                return_certificates=True,
            )
            if n_halo is None:
                ok = np.ones(len(qs), dtype=bool)
            else:
                halo = n_halo * size
                tile = int(key[0])
                x0 = -180.0 + (tile % nx_t) * size
                y0 = -90.0 + (tile // nx_t) * size
                lo_x, hi_x = x0 - halo, x0 + size + halo
                lo_y, hi_y = y0 - halo, y0 + size + halo
                # coordinates only exist in [-180, 180] x [-90, 90]: extent
                # past an edge is vacuously covered. Interpolation is PLANAR
                # in lon; the pmod wrap of the replication only parks far
                # points in the tile, it does not make the space cylindrical.
                x_ok = ((ccx - ccr >= lo_x) | (lo_x <= -180.0)) & (
                    (ccx + ccr <= hi_x) | (hi_x >= 180.0)
                )
                y_ok = ((ccy - ccr >= lo_y) | (lo_y <= -90.0)) & (
                    (ccy + ccr <= hi_y) | (hi_y >= 90.0)
                )
                ok = (~np.isnan(vals)) & x_ok & y_ok
            return pd.DataFrame({"_qid": qs["_qid"].to_numpy(), "_val": vals, "_ok": ok})

        return _interp

    done: list[DataFrame] = []
    for n_halo in (1, 2, 4, None):
        res = (
            _frame(remaining, n_halo)
            .groupBy("_g")
            .applyInPandas(_kernel(n_halo), "_qid long, _val double, _ok boolean")
            .transform(_materialize)
        )
        done.append(res.filter(F.col("_ok")))
        remaining = remaining.join(
            res.filter(~F.col("_ok")).select("_qid"), "_qid", "left_semi"
        )
        if remaining.isEmpty():
            break
    return functools.reduce(DataFrame.unionByName, done).select(
        F.col("_qid").alias(target_key), F.col("_val").alias(value_col)
    )


def asof_time_align(
    queries: DataFrame,
    field: DataFrame,
    key_cols: list[str],
    q_time: str = "q_ts",
    f_time: str = "ts",
    value_col: str = "value",
    direction: str = "backward",
) -> DataFrame:
    """As-of join: for each query row, the field value at the latest
    f_time <= q_time (backward) or earliest >= (forward), per key.

    Union-marker pattern: one shuffle on (keys, time), no range-join blowup.
    """
    qt = queries.select(
        *key_cols, F.col(q_time).alias("_t"), F.lit(1).alias("_isq"),
        F.lit(None).cast(field.schema[value_col].dataType).alias("_v"),
        F.monotonically_increasing_id().alias("_qid"),
    )
    ft = field.select(
        *key_cols, F.col(f_time).alias("_t"), F.lit(0).alias("_isq"),
        F.col(value_col).alias("_v"), F.lit(None).cast("long").alias("_qid"),
    )
    u = qt.unionByName(ft)
    if direction == "backward":
        # field rows sort before query rows at equal time (inclusive asof)
        w = (
            Window.partitionBy(*key_cols)
            .orderBy(F.col("_t").asc(), F.col("_isq").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    else:
        w = (
            Window.partitionBy(*key_cols)
            .orderBy(F.col("_t").desc(), F.col("_isq").asc())
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
    out = u.withColumn("_asof", F.last("_v", ignorenulls=True).over(w))
    return (
        out.filter(F.col("_isq") == 1)
        .select(*key_cols, F.col("_t").alias(q_time), F.col("_asof").alias(f"asof_{value_col}"))
    )


def overview_rollup(
    tiles: DataFrame,
    levels: int,
    i_col: str = "i",
    j_col: str = "j",
    sum_col: str = "val_sum",
    cnt_col: str = "val_cnt",
) -> DataFrame:
    """Overview pyramid as iterative 2x rollups carrying (sum, count) so
    every level's mean is exact and order-independent
    (ref: PyOFS/__init__.py:202-209 overview levels + average resampling).
    Input: level-0 tiles with partial sums. Output: all levels unioned."""
    out = None
    cur = tiles.select(
        F.lit(0).alias("level"), F.col(i_col).alias("i"), F.col(j_col).alias("j"),
        F.col(sum_col).alias("s"), F.col(cnt_col).alias("c"),
    )
    for lv in range(1, levels + 1):
        cur = (
            cur.groupBy(
                F.floor(F.col("i") / 2).alias("i"), F.floor(F.col("j") / 2).alias("j")
            )
            .agg(F.sum("s").alias("s"), F.sum("c").alias("c"))
            .select(F.lit(lv).alias("level"), "i", "j", "s", "c")
        )
        out = cur if out is None else out.unionByName(cur)
    return out.withColumn("mean_val", F.col("s") / F.col("c"))
