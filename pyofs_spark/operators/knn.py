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
     (functions/cells.py).
  2. Pass r = 1, 2, ..., max_ring: for the still-unsettled queries, explode
     the (2r+1)² cell disk around each query cell, hash-join against the
     points bucketed by cell, take the k best with a window.
  3. A query is SETTLED after pass r iff it found ≥ k candidates and its
     k-th distance < (r * cell_size)² — any point in an unexplored cell is
     at least r*cell_size away (chebyshev ring ≥ r+1 ⇒ coordinate gap ≥
     r*cell_size), so the answer cannot change. This makes the output
     EXACTLY equal to the brute-force result, with the deterministic
     tie-break (d², point_id).
  4. Queries still unsettled after max_ring are ranked against every point
     by a cross join (they are the sparse tail — isolated mid-ocean points).

Scale notes (100 TB): pass 1 dominates and is a single shuffle join keyed by
cell id; the disk explode multiplies queries ×9 only. Skewed hot cells on the
QUERY side are harmless (queries never group by cell). For large-large NN
joins, `salt_hot_cells` in operators/skew.py pre-splits hot point buckets.
"""

from __future__ import annotations

import math

import numpy as np
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
    max_ring: int = 4,
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
    A larger DataFrame takes the expanding-ring join (_knn_rings), the only
    path that `res` and `max_ring` tune."""
    if isinstance(points, DataFrame):
        points = _located(points)
        rows = _inline_rows(points, (point_key, "lon", "lat"))
        if rows is None:
            return _knn_rings(queries, points, k, res, query_key, point_key, max_ring)
    else:
        rows = _usable(points)
    nn = _knn_inline(queries, rows, k, point_key, [query_key], (point_key, "dist2", "knn_rank"))
    # an empty point side ranks nothing: its one NULL row per query goes
    return nn if rows else nn.where("false")


def _with_cell_xy(df: DataFrame, res: int, lon: str = "lon", lat: str = "lat") -> DataFrame:
    return df.withColumn("_cx", F.expr(cells.cell_x_sql(lon, res))).withColumn(
        "_cy", F.expr(cells.cell_y_sql(lat, res))
    )


def _top_k(cand: DataFrame, k: int, query_key: str, point_key: str) -> DataFrame:
    """dist2 of each (query, point) candidate pair, and the k best pairs of
    each query by (dist2, point_key), numbered by knn_rank."""
    win = Window.partitionBy(query_key).orderBy("dist2", point_key)
    dlon, dlat = F.col("_qlon") - F.col("_plon"), F.col("_qlat") - F.col("_plat")
    return (
        cand.withColumn("dist2", dlon * dlon + dlat * dlat)
        .withColumn("knn_rank", F.row_number().over(win))
        .filter(F.col("knn_rank") <= k)
        .select(query_key, "_qlon", "_qlat", "_cx", "_cy", point_key, "dist2", "knn_rank")
    )


def _knn_rings(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    res: int,
    query_key: str,
    point_key: str,
    max_ring: int,
) -> DataFrame:
    """knn_join's expanding-cell-ring join (module docstring, steps 1-4):
    the same output, with point_key keeping its type."""
    size = cells.cell_size_deg(res)
    nx = cells.nx(res)
    q = _with_cell_xy(queries, res).select(
        query_key, F.col("lon").alias("_qlon"), F.col("lat").alias("_qlat"), "_cx", "_cy"
    )
    p = _with_cell_xy(points, res).select(
        point_key,
        F.col("lon").alias("_plon"),
        F.col("lat").alias("_plat"),
        (F.col("_cy") * nx + F.col("_cx")).alias("_pcell"),
    )
    remaining = q
    settled_parts: list[DataFrame] = []
    for ring in range(1, max_ring + 1):
        # truncate lineage so each pass doesn't recompute all prior passes
        remaining = _materialize(remaining)
        offsets = F.array(
            *[
                F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                for dx, dy in cells.disk_offsets(ring)
            ]
        )
        cand_cells = remaining.withColumn("_o", F.explode(offsets)).select(
            query_key,
            "_qlon",
            "_qlat",
            "_cx",
            "_cy",
            (
                F.least(
                    F.lit(cells.ny(res) - 1),
                    F.greatest(F.lit(0), F.col("_cy") + F.col("_o.dy")),
                )
                * nx
                + F.pmod(F.col("_cx") + F.col("_o.dx") + nx, F.lit(nx))
            ).alias("_qcell"),
        ).dropDuplicates([query_key, "_qcell"])
        topk = _top_k(
            cand_cells.join(p, cand_cells["_qcell"] == p["_pcell"], "inner"),
            k, query_key, point_key,
        )
        # settled: k found and k-th distance strictly inside the explored radius
        kth = topk.groupBy(query_key).agg(
            F.count("*").alias("_n"), F.max("dist2").alias("_kth")
        )
        bound = (ring * size) ** 2
        done_keys = kth.filter((F.col("_n") >= k) & (F.col("_kth") < F.lit(bound))).select(
            query_key
        )
        settled_parts.append(topk.join(done_keys, query_key, "left_semi"))
        remaining = remaining.join(done_keys, query_key, "left_anti")

    # the sparse tail: each query left, against every point
    settled_parts.append(_top_k(remaining.crossJoin(p.drop("_pcell")), k, query_key, point_key))

    out = settled_parts[0]
    for part in settled_parts[1:]:
        out = out.unionByName(part)
    return out.select(query_key, point_key, "dist2", "knn_rank")


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
    max_ring: int = 4,
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
    nn = _knn_rings(queries, points, 1, res, query_key, point_key, max_ring).join(
        points.select(point_key, *values), point_key, "left"
    )
    return queries.join(nn, query_key).select(*queries.columns, point_key, *values, "dist2")
