"""Independent references the benchmark checks the engine's outputs against.

- DuckDB evaluates the repository's own generated SQL (geocode, cell index,
  unrolled ray cast) over the same page-id range, as the oracle queries in
  `plans/queries.py` do.
- NumPy reference kernels (`kernels.regrid_nearest`,
  `kernels.bilinear_interp`, `polygons.pip_numpy`) and a brute-force top-k
  check the spatial operators row by row on a deterministic sample.

Integer checksums (row counts, sum of cell ids, per-polygon counts, station
histograms) are compared exactly; float outputs are compared with a
tolerance fixed here from the dtype.
"""

from __future__ import annotations

import duckdb
import numpy as np

from pyofs_spark import NODATA
from pyofs_spark.functions import cells, geocode, kernels, polygons
from pyofs_spark.functions.stations import STATIONS
from pyofs_spark.jobs import daily

TILE_RES = 8  # plans.pipeline.TILE_RES, the tile resolution the job uses
FLOAT_RTOL = 1e-9  # float64 results whose summation order may differ
RASTER_RTOL = 1e-6  # float32 raster cells


def _duck() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def geocoded_pages(lo: int, hi: int, res: int = TILE_RES) -> dict[str, np.ndarray]:
    """page_id, lon, lat, cell_id and priority polygon_id for page ids
    [lo, hi), evaluated by DuckDB from the engine's SQL generators."""
    lon = geocode.duckdb_compat(geocode.geocode_id_lon_sql("page_id"))
    lat = geocode.duckdb_compat(geocode.geocode_id_lat_sql("page_id"))
    whens = " ".join(
        f"WHEN {polygons.pip_sql('lon', 'lat', rings)} THEN '{pid}'"
        for pid, rings in polygons.POLYGONS.items()
    )
    sql = f"""
        WITH g AS (
          SELECT range AS page_id, {lon} AS lon, {lat} AS lat
          FROM range({lo}, {hi})
        )
        SELECT page_id, lon, lat, {cells.cell_id_sql('lon', 'lat', res)} AS cell_id,
               CASE {whens} ELSE NULL END AS polygon_id
        FROM g ORDER BY page_id
    """
    con = _duck()
    try:
        df = con.execute(sql).fetchdf()
    finally:
        con.close()
    return {c: df[c].to_numpy() for c in df.columns}


def polygon_counts_sql(lo: int, hi: int, polys: dict[str, list]) -> dict[str, int]:
    """Per-polygon containment counts (a page may be in several polygons)
    over page ids [lo, hi), by DuckDB over the unrolled ray cast."""
    lon = geocode.duckdb_compat(geocode.geocode_id_lon_sql("page_id"))
    lat = geocode.duckdb_compat(geocode.geocode_id_lat_sql("page_id"))
    sums = ", ".join(
        f"sum(CASE WHEN {polygons.pip_sql('lon', 'lat', rings)} THEN 1 ELSE 0 END)"
        for rings in polys.values()
    )
    sql = f"""
        WITH g AS (SELECT {lon} AS lon, {lat} AS lat FROM range({lo}, {hi}) t(page_id))
        SELECT {sums} FROM g
    """
    con = _duck()
    try:
        row = con.execute(sql).fetchone()
    finally:
        con.close()
    return {pid: int(v or 0) for pid, v in zip(polys, row)}


def topk_bruteforce(qlon, qlat, plon, plat, pid, k: int) -> np.ndarray:
    """k nearest point ids per query by (dist², point id). Points must be
    sorted by id so a stable sort breaks distance ties by the smaller id.
    The distance uses the engine's operation order, so ties are exact."""
    out = np.empty((len(qlon), k), dtype=pid.dtype)
    step = max(1, 2**21 // len(plon))  # ~16 MB of distances per block
    for s in range(0, len(qlon), step):
        dx = qlon[s : s + step, None] - plon[None, :]
        dy = qlat[s : s + step, None] - plat[None, :]
        d2 = dx * dx + dy * dy
        out[s : s + step] = pid[np.argsort(d2, axis=1, kind="stable")[:, :k]]
    return out


def station_arrays():
    rows = sorted(STATIONS)
    ids = np.array([r[0] for r in rows], dtype=object)
    return ids, np.array([r[1] for r in rows]), np.array([r[2] for r in rows])


def tile_reference(lo: int, hi: int, k: int, sample: tuple[int, int]) -> dict:
    """Exact checksums of tile_assignment(k) over page ids [lo, hi), plus
    the rows of the sampled pages (page_id % sample[0] == sample[1])."""
    g = geocoded_pages(lo, hi)
    sid, sx, sy = station_arrays()
    near = topk_bruteforce(g["lon"], g["lat"], sx, sy, np.arange(len(sid)), k)
    poly = g["polygon_id"]
    return {
        "n": int(len(g["page_id"])),
        "sum_cell": int(g["cell_id"].astype(np.int64).sum()),
        "n_k": int(len(g["page_id"])),
        "poly": {
            pid: int(np.count_nonzero(poly == pid)) for pid in polygons.POLYGONS
        },
        "hist": {
            s: int(np.count_nonzero(near[:, 0] == i)) for i, s in enumerate(sid)
        },
        "rows": {
            int(g["page_id"][i]): (
                int(g["cell_id"][i]),
                None if poly[i] is None else str(poly[i]),
                tuple(sid[near[i]]),
            )
            for i in np.flatnonzero(g["page_id"] % sample[0] == sample[1])
        },
    }


def compare_dicts(name: str, got: dict, want: dict) -> list[str]:
    bad = [k for k in set(got) | set(want) if got.get(k) != want.get(k)]
    return [f"{name}[{k}]: engine {got.get(k)!r} != reference {want.get(k)!r}" for k in sorted(bad, key=str)]


def daily_reference(events, variable: str, day: str) -> np.ndarray:
    """North-up float32 raster the daily job must write for one
    (variable, day): daily mean per scatter cell, 1-NN regrid onto the
    output lattice, polygon mask, nodata fill."""
    mod = {"sst": 0, "ssh": 1}[variable]
    ev = events[(events["ts"].dt.strftime("%Y-%m-%d") == day) & (events["event_id"] % 2 == mod)]
    ev = ev.assign(
        i=ev["user_id"] % 40,
        j=(ev["user_id"] * 7 + 3) % 30,
        v=ev["value"].where(ev["value"] < 1e10),
    )
    field = ev.groupby(["i", "j"])["v"].mean().reset_index()
    field["point_id"] = field["j"] * 40 + field["i"]
    # the job's field has <= 512 points, so knn_join takes its `inline`
    # strategy, which carries point ids as strings: distance ties (common on
    # this lattice) go to the smaller id in string order
    field = field.sort_values("point_id", key=lambda s: s.astype(str))
    slon = daily.LON0 + field["i"].to_numpy() * 0.25
    slat = daily.LAT0 + field["j"].to_numpy() * 0.25
    sval = field["v"].to_numpy(dtype=np.float64)
    gi, gj = np.meshgrid(np.arange(daily.N_LON), np.arange(daily.N_LAT))
    qlon = daily.LON0 + gi.ravel() * daily.STEP
    qlat = daily.LAT0 + gj.ravel() * daily.STEP
    val = kernels.regrid_nearest(slon, slat, sval, qlon, qlat)
    inside = np.zeros(len(qlon), dtype=bool)
    for rings in polygons.POLYGONS.values():
        inside |= polygons.pip_numpy(qlon, qlat, rings)
    val = np.where(inside & ~np.isnan(val), val, NODATA)
    return val.reshape(daily.N_LAT, daily.N_LON).astype(np.float32)[::-1]


def close(a: np.ndarray, b: np.ndarray, rtol: float) -> bool:
    return a.shape == b.shape and bool(np.allclose(a, b, rtol=rtol, atol=0.0, equal_nan=True))
