"""Distributed kNN join (and its k=1 special case, the nearest-neighbor
regrid join).

Reference semantics being generalized:
- 1-NN scattered regrid `interpolate_grid(..., 'nearest')`
  (ref: PyOFS/model/wcofs.py:1791-1827) — scipy cKDTree over all pairs.
- kNN station lookup (north_rule; ref context: station layers
  hf_radar.py:198-252, data_buoy.py:64-71).

Spark-first algorithm (no KD-tree, no driver collect of the big side):

1. Index both sides into quad cells at resolution `res` (functions/cells.py).
2. Pass r = 1, 2, ..., max_ring: for the still-unsettled queries, explode
   the (2r+1)² cell disk around each query cell, hash-join against the
   points bucketed by cell, take the k best by (squared-degree distance,
   point_id) with a window.
3. A query is SETTLED after pass r iff it found ≥ k candidates and its k-th
   distance < (r * cell_size)² — any point in an unexplored cell is at least
   r*cell_size away (chebyshev ring ≥ r+1 ⇒ coordinate gap ≥ r*cell_size),
   so the answer cannot change. This makes the output EXACTLY equal to the
   brute-force result, with the deterministic tie-break (d², point_id).
4. Queries still unsettled after max_ring fall back to a broadcast
   brute-force join (they are the sparse tail — isolated mid-ocean points).

Scale notes (100 TB): pass 1 dominates and is a single shuffle join keyed by
cell id; the points side is small (stations/grid) → broadcast; the disk
explode multiplies queries ×9 only. Skewed hot cells on the QUERY side are
harmless (queries never group by cell); skew on the points side is handled
by broadcasting. For large-large NN joins, `salt_hot_cells` in
operators/skew.py pre-splits hot buckets.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType

from ..session import materialize as _materialize

from ..functions import cells
from ..functions.sqlgen import flit, ident, slit


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


def _inline_topk_sql(
    rows: list[tuple],
    k: int,
    point_key: str,
    lon_sql: str,
    lat_sql: str,
    with_index: bool = False,
) -> str:
    """topk expression over a literal point list as ONE generated SQL string.

    slice(sort_array(array(named_struct('dist2', ..., '<key>', ...))), 1, k)
    — identical semantics to the Column-by-Column construction (struct
    ordering is lexicographic by field: dist2 then point id), but a single
    F.expr parse instead of ~8 py4j round-trips per point (guide §1/§5:
    measured 0.85 s of pure driver time per invocation at 13 points).

    with_index appends each point's position in `rows` as a last struct
    field `_i` (after the point id, so it never changes the order)."""
    terms = ", ".join(
        "named_struct('dist2', "
        f"(({lon_sql}) - {flit(r[1])}) * (({lon_sql}) - {flit(r[1])})"
        f" + (({lat_sql}) - {flit(r[2])}) * (({lat_sql}) - {flit(r[2])}), "
        f"{slit(point_key)}, {slit(r[0])}"
        + (f", '_i', {i}" if with_index else "")
        + ")"
        for i, r in enumerate(rows)
    )
    return f"slice(sort_array(array({terms})), 1, {k})"


def _with_cell_xy(df: DataFrame, res: int, lon: str = "lon", lat: str = "lat") -> DataFrame:
    return df.withColumn("_cx", F.expr(cells.cell_x_sql(lon, res))).withColumn(
        "_cy", F.expr(cells.cell_y_sql(lat, res))
    )


INLINE_POINTS_THRESHOLD = 512  # below this, fold points into the plan (no shuffle)
BRUTE_POINTS_THRESHOLD = 20_000  # below this, broadcast brute-force wins


def _pick_strategy(points: DataFrame, cols: tuple[str, ...]) -> tuple[str, list | None]:
    """Size the points side and pick the strategy from the measured size
    (*To Partition, or Not to Partition*, SIGMOD 2021). One
    limit(INLINE_POINTS_THRESHOLD + 1) collect both measures the side and,
    when it is inline-sized, IS the fetch of its rows (`cols`); count()
    runs only past the inline threshold. Returns (strategy, rows or None)."""
    rows = points.select(*cols).limit(INLINE_POINTS_THRESHOLD + 1).collect()
    if len(rows) <= INLINE_POINTS_THRESHOLD:
        return "inline", rows
    n_points = points.count()
    return ("brute" if n_points <= BRUTE_POINTS_THRESHOLD else "rings"), None


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
    is tiny. Struct ordering = lexicographic by field (dist2 then point_id)
    — the same deterministic tie-break. Keeps every query column and appends
    (point_key, dist2, knn_rank, *payload names).

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
    topk = F.expr(
        _inline_topk_sql(points_rows, k, point_key, "lon", "lat", bool(payload))
    )
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
        F.col(f"_s.{point_key}").alias(point_key),
        F.col("_s.dist2").alias("dist2"),
        (F.col("_r") + 1).alias("knn_rank"),
        *values,
    )


def knn_join(
    queries: DataFrame,
    points: DataFrame | None,
    k: int,
    res: int = 6,
    query_key: str = "query_id",
    point_key: str = "point_id",
    max_ring: int = 4,
    broadcast_points: bool = True,
    strategy: str = "auto",
    points_rows: list[tuple] | None = None,
) -> DataFrame:
    """Exact kNN join: for each query row, the k nearest point rows.

    queries: (query_key, lon, lat, ...); points: (point_key, lon, lat, ...).
    Returns (query_key, point_key, dist2, knn_rank) with
    knn_rank ∈ [1, k] ordered by (dist2, point_key).

    strategy:
      'inline' — fold the points into the plan as literals (see _knn_inline).
      'brute' — broadcast the points and window over the full cross product.
                Optimal when the points side is dimension-sized (stations):
                one map-side join + one window shuffle, no iteration.
      'rings' — expanding-cell-ring passes (scales to large points sides).
      'auto'  — measure the points side and pick (_pick_strategy). This
                mirrors Catalyst's broadcast-vs-shuffle decision, which
                cannot see through the ring loop.

    points_rows: optional pre-collected [(point_id, lon, lat), ...] for the
    'inline' strategy — skips the per-invocation points.collect() Spark job
    (a dimension table the caller already holds driver-side, e.g. the
    STATIONS constant, costs ~0.5 s of createDataFrame+collect per call
    otherwise; guide §5: no driver data work on the query path). With
    points_rows, `points` may be None, but only under strategy='inline'.
    """
    if points is None and (points_rows is None or strategy != "inline"):
        raise ValueError(
            "knn_join: points=None needs points_rows and strategy='inline' "
            f"(got strategy={strategy!r}, points_rows "
            f"{'given' if points_rows is not None else 'missing'})"
        )
    if strategy == "auto":
        strategy, points_rows = _pick_strategy(points, (point_key, "lon", "lat"))
    if strategy == "inline":
        if points_rows is None:
            points_rows = points.select(point_key, "lon", "lat").collect()
        # an empty point side ranks nothing: its one NULL row per query goes
        return (
            _knn_inline(queries, points_rows, k, point_key)
            .filter(F.col("knn_rank").isNotNull())
            .select(query_key, point_key, "dist2", "knn_rank")
        )
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
    # The broadcast hint only makes sense for the dimension-sized paths;
    # 'rings' exists precisely because the points side is too big to
    # broadcast — hinting it there would push the full table to every
    # executor (and the driver) in each ring join.
    if broadcast_points and strategy != "rings":
        p = F.broadcast(p)
    if strategy == "brute":
        win = Window.partitionBy(query_key).orderBy("dist2", point_key)
        return (
            q.crossJoin(p.drop("_pcell"))
            .withColumn(
                "dist2",
                (F.col("_qlon") - F.col("_plon")) * (F.col("_qlon") - F.col("_plon"))
                + (F.col("_qlat") - F.col("_plat")) * (F.col("_qlat") - F.col("_plat")),
            )
            .withColumn("knn_rank", F.row_number().over(win))
            .filter(F.col("knn_rank") <= k)
            .select(query_key, point_key, "dist2", "knn_rank")
        )

    remaining = q
    settled_parts: list[DataFrame] = []
    win = Window.partitionBy(query_key).orderBy("dist2", point_key)

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
        cand = cand_cells.join(p, cand_cells["_qcell"] == p["_pcell"], "inner").withColumn(
            "dist2",
            (F.col("_qlon") - F.col("_plon")) * (F.col("_qlon") - F.col("_plon"))
            + (F.col("_qlat") - F.col("_plat")) * (F.col("_qlat") - F.col("_plat")),
        )
        topk = (
            cand.withColumn("knn_rank", F.row_number().over(win))
            .filter(F.col("knn_rank") <= k)
            .select(query_key, "_qlon", "_qlat", "_cx", "_cy", point_key, "dist2", "knn_rank")
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
        if ring == max_ring:
            break

    # brute-force tail: tiny remaining set x all points
    tail = (
        remaining.crossJoin(p.drop("_pcell"))
        .withColumn(
            "dist2",
            (F.col("_qlon") - F.col("_plon")) * (F.col("_qlon") - F.col("_plon"))
            + (F.col("_qlat") - F.col("_plat")) * (F.col("_qlat") - F.col("_plat")),
        )
        .withColumn("knn_rank", F.row_number().over(win))
        .filter(F.col("knn_rank") <= k)
        .select(query_key, "_qlon", "_qlat", "_cx", "_cy", point_key, "dist2", "knn_rank")
    )
    settled_parts.append(tail)

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
    # Sorted ids: the struct order (dist2, id) is then the (dist2, point_id)
    # tie-break of the other strategies.
    rows_sorted = sorted(points_rows, key=lambda r: r[0])
    terms = ", ".join(
        f"named_struct('dist2', ({lon} - {flit(px)}) * ({lon} - {flit(px)})"
        f" + ({lat} - {flit(py)}) * ({lat} - {flit(py)}), 'id', {slit(pid)})"
        for pid, px, py in rows_sorted
    )
    # slice() is NULL when its length is: that gives a NULL location NULL
    # arrays without wrapping the top-k in a conditional, which would stop
    # subexpression elimination from hoisting it.
    length = f"CASE WHEN {lon} IS NULL OR {lat} IS NULL THEN NULL ELSE {k} END"
    topk = f"slice(sort_array(array({terms})), 1, {length})"
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
    strategy, rows = _pick_strategy(points, (point_key, "lon", "lat", *values))
    if strategy == "inline":
        payload = tuple(
            (c, points.schema[c].dataType.simpleString()) for c in values
        )
        nn = _knn_inline(queries, rows, 1, point_key, payload)
    else:
        nn = knn_join(
            queries,
            points,
            k=1,
            res=res,
            query_key=query_key,
            point_key=point_key,
            max_ring=max_ring,
            strategy=strategy,
        ).join(points.select(point_key, *values), point_key, "left")
        nn = queries.join(nn, query_key)
    return nn.select(*queries.columns, point_key, *values, "dist2")
