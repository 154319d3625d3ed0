"""Exact kNN join (and its k=1 special case, the nearest-neighbor regrid
join).

Reference semantics being generalized:
- 1-NN scattered regrid `interpolate_grid(..., 'nearest')`
  (ref: PyOFS/model/wcofs.py:1791-1827) — scipy cKDTree over all pairs.
- kNN station lookup (north_rule; ref context: station layers
  hf_radar.py:198-252, data_buoy.py:64-71).

Two plans, chosen from the points side (*To Partition, or Not to
Partition*, SIGMOD 2021); both rank by (squared-degree distance, point_id):

- Inline. A list of point rows, or a DataFrame of at most
  INLINE_POINTS_THRESHOLD rows, is folded into the query plan as literals:
  each query row sorts the (dist2, id) structs and slices the top k. One
  map-only stage, no shuffle.
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

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType

from ..session import materialize as _materialize

from ..functions import cells
from ..functions.sqlgen import flit, ident, slit

INLINE_POINTS_THRESHOLD = 512  # at most this many points: fold them into the plan


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


def _topk_sql(rows: list, lon: str, lat: str, length: str, with_index: bool = False) -> str:
    """Top-k over a literal point list as ONE SQL expression:
    slice(sort_array(array(named_struct('dist2', d², 'id', '<point id>'), ...)), 1, length).

    Struct ordering is lexicographic by field, so the sort ranks by dist2
    and then by the id, a string literal. One F.expr parse instead of ~8
    py4j round-trips per point (measured 0.85 s of driver time per call at
    13 points). rows are (point_id, lon, lat, ...); `length` is SQL: k, or
    an expression that is NULL where the result should be NULL. with_index
    appends each row's position in `rows` as a last field `_i` (after the
    id, so it never changes the order)."""
    terms = ", ".join(
        f"named_struct('dist2', ({lon} - {flit(r[1])}) * ({lon} - {flit(r[1])})"
        f" + ({lat} - {flit(r[2])}) * ({lat} - {flit(r[2])}), 'id', {slit(r[0])}"
        + (f", '_i', {i}" if with_index else "")
        + ")"
        for i, r in enumerate(rows)
    )
    return f"slice(sort_array(array({terms})), 1, {length})"


def _inline_rows(points: DataFrame, cols: tuple[str, ...]) -> list | None:
    """The rows (`cols`) of an inline-sized points side, or None for a
    larger one. One limit(INLINE_POINTS_THRESHOLD + 1) collect both measures
    the side and, when it is inline-sized, IS the fetch of its rows."""
    rows = points.select(*cols).limit(INLINE_POINTS_THRESHOLD + 1).collect()
    return rows if len(rows) <= INLINE_POINTS_THRESHOLD else None


def _knn_inline(
    queries: DataFrame,
    points_rows: list[tuple],
    k: int,
    point_key: str,
    payload: tuple[tuple[str, str], ...] = (),
) -> DataFrame:
    """SHUFFLE-FREE kNN for dimension-sized points (stations): the point
    list is folded into the plan as a literal struct array; per query row
    we sort (dist2, point_id) structs and slice the top k. Pure map →
    embarrassingly parallel, the optimal plan at any scale when the dim side
    is tiny. Keeps every query column and appends (point_key, dist2,
    knn_rank, *payload names); point_key holds the ids as strings.

    points_rows are (point_id, lon, lat, *payload values); `payload` names
    and types the trailing values. Each payload column is one literal array
    indexed by the winner's position: constant folding makes it a single
    array literal, so the generated code does not embed the values and is
    reused across calls whose point coordinates repeat (a daily field).

    k = 1 takes the head of the top-k with element_at instead of exploding
    it: the plan stays a pure projection, which Spark evaluates on the
    driver when the queries are a LocalRelation (ConvertToLocalRelation; a
    Generate node blocks that rule). With no points, every query keeps one
    row whose neighbour columns are NULL."""
    if not points_rows:
        nulls = [(point_key, "string"), ("dist2", "double"), ("knn_rank", "int"), *payload]
        return queries.select(
            "*", *[F.lit(None).cast(dtype).alias(name) for name, dtype in nulls]
        )
    topk = F.expr(_topk_sql(points_rows, "lon", "lat", str(k), bool(payload)))
    values = [
        F.expr(
            "element_at(array({}), _s._i + 1)".format(
                ", ".join(_sql_value(r[3 + c], dtype) for r in points_rows)
            )
        ).alias(name)
        for c, (name, dtype) in enumerate(payload)
    ]
    if k == 1:
        ranked = queries.select("*", F.lit(0).alias("_r"), F.element_at(topk, 1).alias("_s"))
    else:
        ranked = queries.select("*", F.posexplode(topk).alias("_r", "_s"))
    return ranked.select(
        *queries.columns,
        F.col("_s.id").alias(point_key),
        F.col("_s.dist2").alias("dist2"),
        (F.col("_r") + 1).alias("knn_rank"),
        *values,
    )


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

    The input picks the plan. A list, or a DataFrame of at most
    INLINE_POINTS_THRESHOLD rows (measured by one bounded collect, which
    also fetches them), is folded into the query plan (_knn_inline); its
    point ids come back as strings and ties break in their string order.
    A larger DataFrame takes the expanding-ring join (_knn_rings), the only
    path that `res` and `max_ring` tune."""
    if isinstance(points, DataFrame):
        rows = _inline_rows(points, (point_key, "lon", "lat"))
        if rows is None:
            return _knn_rings(queries, points, k, res, query_key, point_key, max_ring)
    else:
        rows = points
    # an empty point side ranks nothing: its one NULL row per query goes
    return (
        _knn_inline(queries, rows, k, point_key)
        .filter(F.col("knn_rank").isNotNull())
        .select(query_key, point_key, "dist2", "knn_rank")
    )


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
    Points whose value_col is NULL or NaN are dropped first; the `carry`
    columns ride along from the same neighbor. Returns every query column
    plus (point_key, value_col, *carry, dist2); with no points left, every
    query row has NULL point_key, values and dist2.

    An inline-sized points side is fetched ONCE together with its values
    (the same collect that measures it) and folded into the plan, so the
    result is one map-only stage over the queries that never re-reads the
    points side. Larger sides join their values and the query columns
    back."""
    values = (value_col, *carry)
    keep = F.col(value_col).isNotNull()
    if isinstance(points.schema[value_col].dataType, (DoubleType, FloatType)):
        keep &= ~F.isnan(value_col)
    points = points.filter(keep)
    rows = _inline_rows(points, (point_key, "lon", "lat", *values))
    if rows is not None:
        payload = tuple(
            (c, points.schema[c].dataType.simpleString()) for c in values
        )
        nn = _knn_inline(queries, rows, 1, point_key, payload)
    else:
        nn = _knn_rings(queries, points, 1, res, query_key, point_key, max_ring).join(
            points.select(point_key, *values), point_key, "left"
        )
        nn = queries.join(nn, query_key)
    return nn.select(*queries.columns, point_key, *values, "dist2")
