"""End-to-end tile-assignment pipeline (the north-star job).

    pages → geocode → cell index (res R) → PIP vs study polygons →
    kNN station lookup → tile assignment table (+ lineage)

Reference lifecycle being re-expressed (SURVEY §3.1,
main/leaflet/write_daily_average.py): scan → spatial filter → align/join →
derive → sink, with skip-if-exists resumability (write_daily_average.py:
289-311) done properly as a lineage anti-join (lineage.py).

Plan shape (all JVM-side: the default path uses the fixed-polygon codegen
PIP, the arithmetic geocode and the inline kNN), one projection per step:

    scan pages (column-pruned: key, url, warc_ts, lang)
      → lon/lat                     [closed-form]
      → cell_id(res)                [closed-form]
      → in_*/polygon_id             [unrolled ray cast]
      → knn_stations/knn_dist2      [top-k over the literal station list]

Catalyst collapses this into ONE map-only whole-stage-codegen stage. Its
generated method must stay under spark.sql.codegen.hugeMethodLimit, or
Spark abandons whole-stage codegen at run time (PLANS.md);
tests/test_operators.py measures it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import cells, geocode, stations
from ..operators import knn as knn_op
from ..operators.pip import pip_fixed

TILE_RES = 8  # 0.70° tiles for the assignment output


def geocode_pages(pages: DataFrame, key_col: str = "page_id") -> DataFrame:
    """Deterministic geocode, as one projection. A STRING key column (e.g.
    url) is reduced to a nonnegative bigint working key via JVM xxhash64
    first — both paths are zero-Python, whole-stage-codegen projections.

    NULL contract: a NULL key yields NULL lon/lat, hence NULL cell_id,
    polygon_id and kNN arrays downstream; no page is given a made-up
    location. A non-NULL key always has one (non-zero constant divisors,
    element_at in range, ANSI overflow raises), yet Spark marks every `%`
    and `/` nullable. So when the key column itself is non-nullable, lon/lat
    are wrapped in nvl() — its default is unreachable — to declare them
    non-NULL. That drops the null branches from every cell, PIP and kNN
    term and keeps the flagship stage under the codegen method limit
    (PLANS.md). It has to be decided here, not by the optimizer: with one
    `CASE WHEN key IS NULL THEN NULL ELSE nvl(...) END` template Catalyst
    folds the guard away, but only in the optimized plan. The DataFrame's
    schema keeps lon/lat nullable, so the downstream `lon IS NULL` guards
    stay in the generated code (+170 bytes, the url-keyed full output then
    exceeds the limit). A nullable key column keeps nullable lon/lat and
    its stage still falls back at run time (PLANS.md)."""
    key = pages.schema[key_col]
    key_expr = key_col
    if key.dataType.simpleString() == "string":
        key_expr = geocode.geocode_url_key_sql(key_col)
    if key.nullable:
        # the guard matters for url keys: xxhash64(NULL) is a real hash
        template = f"CASE WHEN {key_col} IS NULL THEN NULL ELSE {{}} END"
    else:
        template = "nvl({}, 0.0e0)"
    return pages.withColumns({
        "lon": F.expr(template.format(geocode.geocode_id_lon_sql(key_expr))),
        "lat": F.expr(template.format(geocode.geocode_id_lat_sql(key_expr))),
    })


def assign_cells(df: DataFrame, res: int = TILE_RES) -> DataFrame:
    """Append `cell_id` at `res`; NULL where lon or lat is NULL (the clamp's
    greatest() would otherwise skip the NULL and answer cell 0)."""
    cell = cells.cell_id_sql("lon", "lat", res)
    return df.withColumn(
        "cell_id", F.expr(f"CASE WHEN lon IS NULL OR lat IS NULL THEN NULL ELSE {cell} END")
    )


def tile_assignment(
    spark: SparkSession,
    pages: DataFrame,
    key_col: str = "page_id",
    k: int = 3,
    tile_res: int = TILE_RES,
    with_knn: bool = True,
) -> DataFrame:
    """The flagship query: per page → (cell_id, polygon_id, k nearest stations).

    Output: (key, url, warc_ts, lang, lon, lat, cell_id, polygon_id,
             knn_stations: array<string> ordered by (dist², station_id),
             knn_dist2: array<double>).

    A page with a NULL key has NULL lon, lat, cell_id, polygon_id,
    knn_stations and knn_dist2 (geocode_pages).
    """
    g = assign_cells(geocode_pages(pages, key_col), tile_res)
    g = pip_fixed(g)
    cols = [key_col, "url", "warc_ts", "lang", "lon", "lat", "cell_id", "polygon_id"]
    base = g.select(*dict.fromkeys(c for c in cols if c in g.columns))
    if not with_knn:
        return base
    # station list is dimension-sized by contract → fold it into the plan:
    # the whole pipeline (geocode → cells → PIP → kNN) is then ONE map-only
    # stage — zero shuffles, linear scaling with cores/executors.
    return knn_op.knn_inline_arrays(base, stations.STATIONS, k)
