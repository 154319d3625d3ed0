"""Exact kNN join (and its k=1 special case, the nearest-neighbor regrid
join).

Reference semantics being generalized:
- 1-NN scattered regrid `interpolate_grid(..., 'nearest')`
  (ref: PyOFS/model/wcofs.py:1791-1827) — scipy cKDTree over all pairs.
- kNN station lookup (north_rule; ref context: station layers
  hf_radar.py:198-252, data_buoy.py:64-71).

Two plans, chosen from the points side (*To Partition, or Not to
Partition*, SIGMOD 2021); both rank by (squared-degree distance, point_id)
and first drop the points whose lon or lat is NULL or NaN:

- Inline. A list of point rows, or a DataFrame of at most
  INLINE_POINTS_THRESHOLD rows, is folded into the query plan as a
  literal cell index (the plan-time raster index of *Raptor*, VLDB 2019):
  1. The points are sorted by (str(point_id), position), so an array index
     IS the tie-break.
  2. A grid of about n/2 cells covers their bbox; the border cells reach
     SAFE_DEG outward, and every query is clamped into a cell.
  3. A cell lists every point unless k others dominate it: are closer to
     every location of the cell, by a margin above the rounding of dist2.
     The dist2 difference of two points is affine, so the cell's corners
     decide. The lists are therefore exact, ties included, for every
     query within SAFE_DEG of the bbox (any geographic coordinate); a
     query farther out may rank two points whose dist2 differ by less
     than their rounding in either order.
  4. Each query row ranks the M slots of its cell, M the longest list,
     over literal coordinate, candidate, id and payload arrays: the
     expression's size does not grow with the point count. One map-only
     stage, no shuffle. A grid that does not halve the longest list falls
     back to one cell, whose lookups fold to constants (the 12 stations).
- Rings, for a larger DataFrame (no KD-tree, no driver collect of it):
  1. Index both sides into quad cells at resolution `res`
     (functions/cells.py). Cell disks are clipped to the grid, not wrapped
     in x: dist2 is planar, so a wrapped cell only adds far candidates.
  2. Pass 1: each query joins the points of its 3x3 cell disk (a hash
     join keyed by cell) and keeps its k best by (dist2, point_id) with a
     window. It is SETTLED iff it found k and its k-th dist2 < cell_size²:
     a point r + 1 or more cells away (chebyshev) is more than r *
     cell_size away, so the answer cannot change.
  3. Pass 2: every other query is ranked again over its own disk of
     radius R, the smallest R whose settle rule its bound D² passes (D² <
     (R * cell_size)², compared in squares, so the rounding of sqrt cannot
     make R smaller). D² is the ring-1 k-th dist2; a query with fewer
     than k ring-1 candidates takes the squared distance from its own
     coordinates to the far corners of the smallest disk around its cell
     that holds k points, from a count of the points by cell (collected
     only when such a query exists; a point outside its cell's extent,
     beyond the grid or at inf, is not counted). A NULL, NaN or infinite
     bound covers the whole grid: such a query ranks every point.
     The output is EXACTLY the brute-force result with the deterministic
     tie-break (d², point_id).

Scale notes (100 TB): pass 1 dominates and is a single shuffle join keyed by
cell id; the disk explode multiplies queries ×9 only. Skewed hot cells on the
QUERY side are harmless (queries never group by cell). For large-large NN
joins, `salt_hot_cells` in operators/skew.py pre-splits hot point buckets.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType

from ..session import materialize as _materialize

from ..functions import cells
from ..functions.sqlgen import flit, ident, slit

INLINE_POINTS_THRESHOLD = 512  # at most this many points: fold them into the plan
# the literal cell index is exact for finite queries within this many degrees
# of the points' bbox (every geographic coordinate of points on the globe)
SAFE_DEG = 1000.0
# a point dominates another over a cell when it is closer by this share of
# the cell's largest dist2: more than the rounding of either computed dist2
_MARGIN = 1e-12
_NAN = "CAST('NaN' AS DOUBLE)"
_INF = "CAST('Infinity' AS DOUBLE)"


def _sql_value(v, dtype: str) -> str:
    """Exact SQL literal of one collected numeric value, typed as its source
    column (NaN/inf go through their string form; flit cannot spell them)."""
    if v is None:
        lit = "NULL"
    elif isinstance(v, float):
        lit = flit(v) if math.isfinite(v) else slit(repr(v))
    else:
        lit = repr(v)
    return f"CAST({lit} AS {dtype})"


def _dist2_sql(lon: str, lat: str, px: str, py: str) -> str:
    return f"({lon} - {px}) * ({lon} - {px}) + ({lat} - {py}) * ({lat} - {py})"


def _topk_sql(rows: list, lon: str, lat: str, length: str) -> str:
    """Top-k over a literal point list as ONE SQL expression:
    slice(sort_array(array(named_struct('dist2', d², 'id', '<point id>'), ...)), 1, length).

    Struct ordering is lexicographic by field, so the sort ranks by dist2
    and then by the id, a string literal. rows are (point_id, lon, lat,
    ...); `length` is SQL: k, or an expression that is NULL where the
    result should be NULL."""
    terms = ", ".join(
        f"named_struct('dist2', {_dist2_sql(lon, lat, flit(r[1]), flit(r[2]))}, 'id', {slit(r[0])})"
        for r in rows
    )
    return f"slice(sort_array(array({terms})), 1, {length})"


def _usable(rows: list) -> list:
    """Point rows whose lon and lat are neither NULL nor NaN."""
    return [r for r in rows if not any(v is None or v != v for v in r[1:3])]


def _located(points: DataFrame, keep: str = "true") -> DataFrame:
    """points whose lon and lat are neither NULL nor NaN, and `keep` holds."""
    return points.where(
        "lon IS NOT NULL AND lat IS NOT NULL AND NOT isnan(lon) AND NOT isnan(lat)"
        f" AND ({keep})"
    )


def _inline_rows(points: DataFrame, cols: tuple[str, ...]) -> list | None:
    """The rows (`cols`) of an inline-sized points side, or None for a
    larger one. One limit(INLINE_POINTS_THRESHOLD + 1) collect both measures
    the side and, when it is inline-sized, IS the fetch of its rows."""
    rows = points.select(*cols).limit(INLINE_POINTS_THRESHOLD + 1).collect()
    return rows if len(rows) <= INLINE_POINTS_THRESHOLD else None


def _cell_lists(
    px: np.ndarray, py: np.ndarray, k: int, rects: np.ndarray
) -> list[list[int]]:
    """For each rectangle (lox, hix, loy, hiy), the indices of the points
    that can be among the k nearest of a query in it: every point except
    those that at least k other points dominate, i.e. are closer to over the
    whole rectangle by the margin. dist2(x, q) - dist2(x, p) is affine in
    x, so its maximum over the rectangle is at a corner.

    First the k points with the smallest farthest-corner distance test
    every point; the survivors then test each other. Both tests prune only
    with k verified dominators, so the lists are exact; they may keep a
    point that a test against every point would drop."""
    cx, cy = rects[:, [0, 0, 1, 1]], rects[:, [2, 3, 2, 3]]
    d2 = (cx[:, :, None] - px) ** 2 + (cy[:, :, None] - py) ** 2  # (cell, corner, point)
    margin = _MARGIN * d2.max(axis=(1, 2))[:, None, None]
    near = np.argpartition(d2.max(axis=1), k - 1, axis=1)[:, None, :k]
    w = np.take_along_axis(d2, np.broadcast_to(near, (len(rects), 4, k)), axis=2)
    alive = ((w[:, :, :, None] - d2[:, :, None, :]).max(axis=1) < -margin).sum(axis=1) < k
    lists = []
    for c, m in enumerate(margin[:, 0, 0]):
        idx = np.flatnonzero(alive[c])
        s = d2[c][:, idx]
        lists.append(idx[((s[:, :, None] - s[:, None, :]).max(axis=0) < -m).sum(axis=0) < k].tolist())
    return lists


def _cell_index(px: np.ndarray, py: np.ndarray, k: int) -> tuple[tuple, list[list[int]]]:
    """A grid of about n/2 cells over the points' bbox and each cell's
    candidate list: the plan-time raster index (Raptor, VLDB 2019) that
    lets every query rank only its cell's candidates. Returns
    ((x0, y0, w, h, nx, ny), lists), the last list for queries with a NULL,
    NaN or infinite coordinate. The border cells reach SAFE_DEG beyond the
    bbox, and a query there or farther is clamped into them. One cell that
    lists every point when the grid does not halve the longest list (the
    lookup would cost more than it saves), or when a coordinate is
    infinite."""
    n = len(px)
    whole = ((0.0, 0.0, 1.0, 1.0, 1, 1), [list(range(n))])
    if n <= 2 * k or not (np.isfinite(px).all() and np.isfinite(py).all()):
        return whole
    x0, x1, y0, y1 = px.min(), px.max(), py.min(), py.max()
    t = n / 2
    if x1 > x0 and y1 > y0:
        nx = max(1, round(math.sqrt(t * (x1 - x0) / (y1 - y0))))
        ny = max(1, round(t / nx))
    else:
        nx, ny = (round(t), 1) if x1 > x0 else (1, round(t))
    w = (x1 - x0) / nx if x1 > x0 else 1.0
    h = (y1 - y0) / ny if y1 > y0 else 1.0
    # each rectangle is widened by far more than the rounding of a query's
    # cell number, and the border ones reach SAFE_DEG outward
    pad = 1e-9 * (abs(x0) + abs(y0) + w + h + (x1 - x0) + (y1 - y0))
    gx, gy = np.meshgrid(np.arange(nx), np.arange(ny))
    gx, gy = gx.ravel(), gy.ravel()
    rects = np.stack([
        np.where(gx > 0, x0 + gx * w - pad, x0 - SAFE_DEG),
        np.where(gx < nx - 1, x0 + (gx + 1) * w + pad, x1 + SAFE_DEG),
        np.where(gy > 0, y0 + gy * h - pad, y0 - SAFE_DEG),
        np.where(gy < ny - 1, y0 + (gy + 1) * h + pad, y1 + SAFE_DEG),
    ], axis=1)
    lists = _cell_lists(px, py, k, rects)
    if 2 * max(map(len, lists)) > n:
        return whole
    # such a query has the same dist2 (NULL, NaN or inf) to every point, so
    # its answer is the first k by index
    return (x0, y0, w, h, nx, ny), lists + [list(range(k))]


def _knn_inline(
    queries: DataFrame,
    points_rows: list[tuple],
    k: int,
    point_key: str,
    keep: list[str],
    out: tuple[str, ...],
    payload: tuple[tuple[str, str], ...] = (),
) -> DataFrame:
    """SHUFFLE-FREE kNN for dimension-sized points (stations, a day field):
    the points are folded into the plan as literal arrays, and each query
    row ranks the candidates of its cell (_cell_index) by (dist2, index).
    The points are sorted by (str(point_id), position), so the index IS the
    tie-break. Pure map → embarrassingly parallel, the optimal plan at any
    scale when the dim side is tiny. Returns the `keep` query columns, then
    the `out` columns in their order, drawn from point_key (the ids as
    strings), dist2, knn_rank and the `payload` columns, which name and
    type the values after (id, lon, lat) in points_rows.

    The expression has M candidate slots, M the longest cell list, and not
    one term per point: the coordinates, candidate lists, ids and payload
    are array literals indexed by a slot's candidate. The slots are
    unrolled because transform/aggregate lambdas are CodegenFallback. With
    one cell each slot is the plain dist2 of one point.

    k = 1 takes the least (dist2, index) struct: the plan stays a pure
    projection, which Spark evaluates on the driver when the queries are a
    LocalRelation (ConvertToLocalRelation; a Generate node blocks that
    rule). k > 1 sorts the slots and posexplodes the top k. With no points,
    every query keeps one row whose neighbour columns are NULL."""
    cols = [ident(c) for c in keep]
    types = {point_key: "string", "dist2": "double", "knn_rank": "int", **dict(payload)}
    if not points_rows:
        return queries.selectExpr(*cols, *[f"CAST(NULL AS {types[c]}) AS {ident(c)}" for c in out])
    rows = [r for _, r in sorted(enumerate(points_rows), key=lambda e: (str(e[1][0]), e[0]))]
    n = len(rows)
    px = np.array([r[1] for r in rows], dtype=np.float64)
    py = np.array([r[2] for r in rows], dtype=np.float64)
    (x0, y0, w, h, nx, ny), lists = _cell_index(px, py, k)
    m = max(map(len, lists))

    def arr(vals) -> str:
        return f"array({', '.join(vals)})"

    if len(lists) == 1:
        slots = [(flit(px[i]), flit(py[i]), str(i)) for i in range(m)]
    else:
        cx = f"least(greatest(floor((lon - {flit(x0)}) / {flit(w)}), 0), {nx - 1})"
        cy = f"least(greatest(floor((lat - {flit(y0)}) / {flit(h)}), 0), {ny - 1})"
        # the coordinates end with a NaN pad point, whose dist2 sorts after
        # every real one and whose index n after every real index
        queries = queries.selectExpr(
            "*",
            f"{arr([*map(flit, px), _NAN])} AS _xs",
            f"{arr([*map(flit, py), _NAN])} AS _ys",
            arr(str(c) for cell in lists for c in cell + [n] * (m - len(cell))) + " AS _cand",
            f"CASE WHEN abs(lon) < {_INF} AND abs(lat) < {_INF}"
            f" THEN CAST({cy} * {nx} + {cx} AS INT) ELSE {nx * ny} END AS _cell",
        )
        cand = [f"element_at(_cand, _cell * {m} + {s + 1})" for s in range(m)]
        slots = [(f"element_at(_xs, {c} + 1)", f"element_at(_ys, {c} + 1)", c) for c in cand]
    terms = ", ".join(
        f"named_struct('dist2', {_dist2_sql('lon', 'lat', x, y)}, '_i', {i})" for x, y, i in slots
    )
    sql = {
        point_key: f"element_at({arr(slit(r[0]) for r in rows)}, _s._i + 1)",
        "dist2": "_s.dist2",
        "knn_rank": "_r + 1",
        **{
            name: f"element_at({arr(_sql_value(r[3 + c], dtype) for r in rows)}, _s._i + 1)"
            for c, (name, dtype) in enumerate(payload)
        },
    }
    if k == 1:
        ranked = queries.selectExpr("*", "0 AS _r", f"least({terms}) AS _s" if m > 1 else f"{terms} AS _s")
    else:
        ranked = queries.selectExpr("*", f"slice(sort_array(array({terms})), 1, {k}) AS _top")
        # posexplode_outer: a plain posexplode makes the optimizer add a
        # size(_top) > 0 filter, which repeats the whole top-k below it
        ranked = ranked.selectExpr("*", "posexplode_outer(_top) AS (_r, _s)")
    return ranked.selectExpr(*cols, *[f"{sql[c]} AS {ident(c)}" for c in out])


def knn_join(
    queries: DataFrame,
    points: DataFrame | list[tuple],
    k: int,
    res: int = 6,
    query_key: str = "query_id",
    point_key: str = "point_id",
) -> DataFrame:
    """Exact kNN join: for each query row, the k nearest points.

    queries: (query_key, lon, lat, ...). points: a DataFrame
    (point_key, lon, lat, ...), or a list of (point_id, lon, lat) rows that
    the caller already holds on the driver, such as the STATIONS constant
    (no Spark job fetches them). Returns (query_key, point_key, dist2,
    knn_rank) with knn_rank ∈ [1, k] ordered by (dist2, point_key).

    Points whose lon or lat is NULL or NaN are dropped first. The input
    then picks the plan. A list, or a DataFrame of at most
    INLINE_POINTS_THRESHOLD rows (measured by one bounded collect, which
    also fetches them), is folded into the query plan (_knn_inline); its
    point ids come back as strings and ties break in their string order.
    A larger DataFrame takes the two-pass cell join (_knn_rings), the only
    path that `res` tunes."""
    if isinstance(points, DataFrame):
        points = _located(points)
        rows = _inline_rows(points, (point_key, "lon", "lat"))
        if rows is None:
            return _knn_rings(queries, points, k, res, query_key, point_key)
    else:
        rows = _usable(points)
    nn = _knn_inline(queries, rows, k, point_key, [query_key], (point_key, "dist2", "knn_rank"))
    # an empty point side ranks nothing: its one NULL row per query goes
    return nn if rows else nn.where("false")


def _with_cell_xy(df: DataFrame, res: int) -> DataFrame:
    return df.selectExpr(
        "*", f"{cells.cell_x_sql('lon', res)} AS _cx", f"{cells.cell_y_sql('lat', res)} AS _cy"
    )


def _ranked(q: DataFrame, p: DataFrame, k: int, res: int, query_key: str, point_key: str) -> DataFrame:
    """The k best points of each query of q among the points in the cells
    within chebyshev distance _r of its cell (clipped to the grid), by
    (dist2, point_key) and numbered by knn_rank; every row also carries its
    query's candidate count _n (at most k) and k-th (or last) dist2 _kth."""
    nx, ny = cells.nx(res), cells.ny(res)
    cand = q.selectExpr(
        "*", f"explode(sequence(greatest(_cy - _r, 0), least(_cy + _r, {ny - 1}))) AS _y"
    ).selectExpr(
        "*", f"explode(sequence(greatest(_cx - _r, 0), least(_cx + _r, {nx - 1}))) AS _x"
    )
    dlon, dlat = F.col("_qlon") - F.col("_plon"), F.col("_qlat") - F.col("_plat")
    each = Window.partitionBy(query_key)
    return (
        cand.join(p, cand["_y"] * nx + cand["_x"] == p["_pcell"])
        .withColumn("dist2", dlon * dlon + dlat * dlat)
        .withColumn("knn_rank", F.row_number().over(each.orderBy("dist2", point_key)))
        .filter(F.col("knn_rank") <= k)
        .select(
            query_key, point_key, "dist2", "knn_rank",
            F.count("*").over(each).alias("_n"), F.max("dist2").over(each).alias("_kth"),
        )
    )


def _count_disks(points: DataFrame, short: list, k: int, res: int) -> pa.Table:
    """For each cell (_cx, _cy) of `short`, the extent (_x0, _x1, _y0, _y1)
    in degrees of the smallest clipped cell disk around it that holds k
    points inside their cells' extents, or NULLs when none does: a binary
    search of the radius over 2D prefix sums of the points' count by cell,
    collected only when `short` is not empty."""
    size, nx, ny = cells.cell_size_deg(res), cells.nx(res), cells.ny(res)
    cx, cy = np.array(short, dtype=np.int64).reshape(-1, 2).T
    s = np.zeros((ny + 1, nx + 1), np.int64)
    if short:
        e = flit(size)
        inside = (f"lon BETWEEN _cx * {e} - 180 AND (_cx + 1) * {e} - 180"
                  f" AND lat BETWEEN _cy * {e} - 90 AND (_cy + 1) * {e} - 90")
        for x, y, n in points.where(inside).groupBy("_cx", "_cy").count().collect():
            s[y + 1, x + 1] = n
        s = s.cumsum(0).cumsum(1)

    def disk(r):
        x0, x1 = np.maximum(cx - r, 0), np.minimum(cx + r, nx - 1) + 1
        y0, y1 = np.maximum(cy - r, 0), np.minimum(cy + r, ny - 1) + 1
        return (x0, x1, y0, y1), s[y1, x1] - s[y0, x1] - s[y1, x0] + s[y0, x0]

    lo, hi = np.zeros_like(cx), np.full_like(cx, nx)  # radius nx covers the grid
    while (lo < hi).any():
        mid = (lo + hi) // 2
        ok = disk(mid)[1] >= k
        lo, hi = np.where(ok, lo, mid + 1), np.where(ok, mid, hi)
    (x0, x1, y0, y1), held = disk(lo)
    found = held >= k

    def edge(origin, c):
        return pa.array(origin + c * size, pa.float64(), mask=~found)

    return pa.table({
        "_cx": cx, "_cy": cy,
        "_x0": edge(-180.0, x0), "_x1": edge(-180.0, x1),
        "_y0": edge(-90.0, y0), "_y1": edge(-90.0, y1),
    })


def _knn_rings(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    res: int,
    query_key: str,
    point_key: str,
) -> DataFrame:
    """knn_join's two-pass cell join (module docstring, steps 1-3): the
    same output, with point_key keeping its type."""
    size, nx = cells.cell_size_deg(res), cells.nx(res)
    # the queries are read by both passes; pinned so that both see one result
    q = _materialize(_with_cell_xy(queries, res).selectExpr(
        ident(query_key), "lon AS _qlon", "lat AS _qlat", "_cx", "_cy"
    ))
    pc = _with_cell_xy(points, res)
    p = pc.selectExpr(ident(point_key), "lon AS _plon", "lat AS _plat", f"_cy * {nx} + _cx AS _pcell")
    ring1 = _materialize(_ranked(q.withColumn("_r", F.lit(1)), p, k, res, query_key, point_key))
    settled = f"_n = {k} AND _kth < {flit(size * size)}"
    pending = q.join(
        ring1.where("knn_rank = 1").select(query_key, "_n", "_kth"), query_key, "left"
    ).where(f"NOT coalesce({settled}, false)")
    short = pending.where(f"coalesce(_n, 0) < {k}").select("_cx", "_cy").distinct().collect()
    disks = queries.sparkSession.createDataFrame(_count_disks(pc, short, k, res))
    s = flit(size)
    # the radius of the bound _b2 (module docstring, step 3). least() skips
    # NULL and orders NaN above every number, so a NULL, NaN or infinite
    # bound gives a radius above nx, which covers the grid
    rest = pending.join(F.broadcast(disks), ["_cx", "_cy"], "left").selectExpr(
        "*",
        f"CASE WHEN _n = {k} THEN _kth ELSE"
        " greatest((_qlon - _x0) * (_qlon - _x0), (_qlon - _x1) * (_qlon - _x1))"
        " + greatest((_qlat - _y0) * (_qlat - _y0), (_qlat - _y1) * (_qlat - _y1)) END AS _b2",
    ).selectExpr("*", f"floor(least(sqrt(_b2) / {s}, {nx})) + 1 AS _r1").selectExpr(
        ident(query_key), "_qlon", "_qlat", "_cx", "_cy",
        f"CASE WHEN _b2 < (_r1 * {s}) * (_r1 * {s}) THEN _r1 ELSE _r1 + 1 END AS _r",
    )
    out = (query_key, point_key, "dist2", "knn_rank")
    return ring1.where(settled).select(*out).unionByName(
        _ranked(rest, p, k, res, query_key, point_key).select(*out)
    )


def knn_inline_arrays(
    df: DataFrame,
    points_rows: list[tuple[str, float, float]],
    k: int,
    lon: str = "lon",
    lat: str = "lat",
    out_prefix: str = "knn",
) -> DataFrame:
    """Map-only kNN against a literal point list: appends
    `{prefix}_stations: array<string>` and `{prefix}_dist2: array<double>`
    ordered by (dist2, point_id). Zero shuffle — the scale-optimal plan for
    the flagship pipeline's station lookup. A row whose lon or lat is NULL
    gets NULL for both arrays. Columns of df with the output names are
    replaced (the new ones come last).

    ONE projection from one SQL select list. sort_array (natural struct
    order) + GetArrayStructFields keep the whole expression inside
    whole-stage codegen; array_sort/transform lambdas are CodegenFallback
    and would interpret per row (PLANS.md). The point id rides in the
    struct, so the stations array is one field extraction. Both output
    columns spell out the same top-k expression: subexpression elimination
    evaluates it once per row, in a generated method of its own, which keeps
    the fused flagship stage under spark.sql.codegen.hugeMethodLimit."""
    # slice() is NULL when its length is: that gives a NULL location NULL
    # arrays without wrapping the top-k in a conditional, which would stop
    # subexpression elimination from hoisting it.
    length = f"CASE WHEN {lon} IS NULL OR {lat} IS NULL THEN NULL ELSE {k} END"
    # sorted by id, the literal array (and so the generated code) does not
    # depend on the order the caller lists the points in
    topk = _topk_sql(sorted(points_rows, key=lambda r: r[0]), lon, lat, length)
    outs = {f"{out_prefix}_stations": f"{topk}.id", f"{out_prefix}_dist2": f"{topk}.dist2"}
    clash = [c for c in df.columns if c in outs]
    if clash:
        df = df.drop(*clash)
    return df.selectExpr("*", *[f"{sql} AS {ident(name)}" for name, sql in outs.items()])


def nn_value_join(
    queries: DataFrame,
    points: DataFrame,
    value_col: str,
    res: int = 6,
    query_key: str = "query_id",
    point_key: str = "point_id",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """1-NN value transfer — the regrid-nearest spatial join
    (semantics of wcofs.py:1791-1827 with tie-break (d², point_id)).
    Points whose value_col, lon or lat is NULL or NaN are dropped first,
    in one filter; the `carry` columns ride along from the same neighbor.
    Returns every query column plus (point_key, value_col, *carry, dist2);
    with no points left, every query row has NULL point_key, values and
    dist2.

    An inline-sized points side is fetched ONCE together with its values
    (the same collect that measures it) and folded into the plan, so the
    result is one map-only stage over the queries that never re-reads the
    points side. Larger sides join their values and the query columns
    back."""
    values = (value_col, *carry)
    schema = points.schema
    keep = f"{ident(value_col)} IS NOT NULL"
    if isinstance(schema[value_col].dataType, (DoubleType, FloatType)):
        keep += f" AND NOT isnan({ident(value_col)})"
    points = _located(points, keep)
    rows = _inline_rows(points, (point_key, "lon", "lat", *values))
    if rows is not None:
        payload = tuple((c, schema[c].dataType.simpleString()) for c in values)
        out = (point_key, *values, "dist2")
        return _knn_inline(queries, rows, 1, point_key, queries.columns, out, payload)
    nn = _knn_rings(queries, points, 1, res, query_key, point_key).join(
        points.select(point_key, *values), point_key, "left"
    )
    return queries.join(nn, query_key).select(*queries.columns, point_key, *values, "dist2")
