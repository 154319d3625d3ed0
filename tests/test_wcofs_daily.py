"""E2E for the composed WCOFS daily ETL (round 5 — VERDICT r04 task 2):
NetCDF-3 granule archive → staggered-grid rotation → dir/mag → 1-NN
regrid → GeoTIFF, checked FILE-TO-FILE against the numpy golden kernels
(kernels.rotate_uv / dir_mag / regrid_nearest — the same goldens the
grid module and regrid operator are individually gated on), plus the
lineage resume contract (second invocation skips every day, outputs
unchanged)."""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import functions as F

from pyofs_spark.functions.kernels import dir_mag, regrid_nearest, rotate_uv
from pyofs_spark.jobs.wcofs_daily import (
    N_ETA,
    N_XI,
    RLAT0,
    RLON0,
    STEP,
    run_wcofs_daily,
    synth_wcofs_uv,
    write_wcofs_archive,
)
from pyofs_spark.sources.geotiff import read_geotiff
from pyofs_spark.sources.grids import build_curvilinear_grid

DAYS = ["2024-01-02", "2024-01-03"]


def _rho_arrays(spark):
    """rho lon/lat/angle as (n_eta, n_xi) arrays from the grid dim table
    (itself golden-gated against rotate_uv in tests/test_grids.py)."""
    rows = (
        build_curvilinear_grid(spark, N_XI, N_ETA, RLON0, RLAT0, STEP)
        .filter(F.col("grid_name") == "rho")
        .collect()
    )
    lon = np.zeros((N_ETA, N_XI))
    lat = np.zeros((N_ETA, N_XI))
    ang = np.zeros((N_ETA, N_XI))
    for r in rows:
        lon[r.j, r.i], lat[r.j, r.i], ang[r.j, r.i] = r.lon, r.lat, r.angle
    return lon, lat, ang


def _expected_rasters(spark, day_idx: int, lat_spec: dict):
    """Golden path in pure numpy: staggered align → rotate_uv → dir_mag →
    regrid_nearest onto the job's lattice."""
    u, v = synth_wcofs_uv(day_idx)
    lon, lat, ang = _rho_arrays(spark)
    east, north = rotate_uv(u[:-1, :], v[:, :-1], ang[:-1, :-1])
    direction, mag = dir_mag(east, north)
    slon, slat = lon[:-1, :-1].ravel(), lat[:-1, :-1].ravel()
    n_lon, n_lat = lat_spec["n_lon"], lat_spec["n_lat"]
    gj, gi = np.meshgrid(np.arange(n_lat), np.arange(n_lon), indexing="ij")
    qlon = lat_spec["lon0"] + gi.ravel() * lat_spec["step"]
    qlat = lat_spec["lat0"] + gj.ravel() * lat_spec["step"]
    exp_mag = regrid_nearest(slon, slat, mag.ravel(), qlon, qlat)
    exp_dir = regrid_nearest(slon, slat, direction.ravel(), qlon, qlat)
    shape = (n_lat, n_lon)
    return exp_mag.reshape(shape), exp_dir.reshape(shape)


def _read_ascending(path: str) -> np.ndarray:
    """GeoTIFF (north-up) → ascending-lat row order, nodata → NaN."""
    t = read_geotiff(path)
    data = t["data"].astype(np.float64)[::-1]
    return np.where(data == t["nodata"], np.nan, data)


def test_wcofs_daily_e2e_matches_goldens_and_resumes(spark, tmp_path):
    """Both days match the goldens; an unchanged re-run skips every day and
    leaves the files as they were; a rewritten granule re-runs its day."""
    nc_dir, out_root = str(tmp_path / "nc"), str(tmp_path / "out")
    write_wcofs_archive(nc_dir, DAYS)
    summary = run_wcofs_daily(spark, nc_dir, out_root, DAYS)
    assert summary["ran"] == DAYS and not summary["skipped"]
    spec = summary["lattice"]

    raster_dir = os.path.join(out_root, "rasters")
    for d_idx, day in enumerate(DAYS):
        exp_mag, exp_dir = _expected_rasters(spark, d_idx, spec)
        got_mag = _read_ascending(
            os.path.join(raster_dir, f"wcofs_mag_{day}.tif")
        )
        got_dir = _read_ascending(
            os.path.join(raster_dir, f"wcofs_direction_{day}.tif")
        )
        # float32 file round-trip is the only loss; the 1-NN assignment
        # itself must be exact (same (d², point_id) tie-break)
        np.testing.assert_allclose(got_mag, exp_mag, rtol=2e-6, atol=2e-6)
        np.testing.assert_allclose(got_dir, exp_dir, rtol=2e-6, atol=2e-5)
        # GPKG coverage carries the same mag raster
        from pyofs_spark.sources.gpkg import read_gpkg_raster

        cov = read_gpkg_raster(
            os.path.join(raster_dir, f"wcofs_{day}.gpkg"), "mag_cov"
        )
        cov_asc = np.where(
            cov["data"].astype(np.float64) == cov["nodata"], np.nan,
            cov["data"].astype(np.float64),
        )[::-1]
        np.testing.assert_allclose(cov_asc, exp_mag, rtol=2e-6, atol=2e-6)

    # resume contract: re-invoking skips every day; files byte-unchanged
    before = {
        f: open(os.path.join(raster_dir, f), "rb").read()
        for f in sorted(os.listdir(raster_dir)) if f.endswith(".tif")
    }
    again = run_wcofs_daily(spark, nc_dir, out_root, DAYS)
    assert again["skipped"] == DAYS and not again["ran"]
    for f, payload in before.items():
        assert open(os.path.join(raster_dir, f), "rb").read() == payload, f

    # a rewritten granule (here: day 0's fields under the second day's
    # name) re-runs only its day, whose rasters then follow the new input
    write_wcofs_archive(nc_dir, DAYS[1:])
    third = run_wcofs_daily(spark, nc_dir, out_root, DAYS)
    assert third["ran"] == DAYS[1:] and third["skipped"] == DAYS[:1]
    exp_mag, _ = _expected_rasters(spark, 0, spec)
    got_mag = _read_ascending(os.path.join(raster_dir, f"wcofs_mag_{DAYS[1]}.tif"))
    np.testing.assert_allclose(got_mag, exp_mag, rtol=2e-6, atol=2e-6)


def test_wcofs_streaming_twin_matches_batch(spark, tmp_path):
    """Streaming twin: granules arriving incrementally produce byte-identical
    rasters to the batch job over the same archive, exactly once per
    granule across triggers (file-source log)."""
    from pyofs_spark.jobs.wcofs_daily import write_wcofs_archive
    from pyofs_spark.sources.grids import build_curvilinear_grid
    from pyofs_spark.streaming.wcofs import wcofs_streaming_etl

    nc_dir = str(tmp_path / "nc_stream")
    out_s = str(tmp_path / "out_stream")
    out_b = str(tmp_path / "out_batch")
    chk = str(tmp_path / "chk")
    os.makedirs(nc_dir, exist_ok=True)

    grid = build_curvilinear_grid(spark, N_XI, N_ETA, RLON0, RLAT0, STEP)
    spec = (40.0, -128.0, 1.0, 10, 8)

    def run_catchup():
        q = wcofs_streaming_etl(spark, nc_dir, out_s, grid, spec, chk)
        q.awaitTermination(120)

    # day 1 arrives, first catch-up pass publishes it
    write_wcofs_archive(nc_dir, [DAYS[0]])
    run_catchup()
    assert os.path.exists(os.path.join(out_s, f"wcofs_mag_{DAYS[0]}.tif"))
    day0_bytes = open(
        os.path.join(out_s, f"wcofs_mag_{DAYS[0]}.tif"), "rb"
    ).read()

    # day 2 arrives; second pass processes ONLY the new granule (day-1
    # raster untouched because its granule is not replayed)
    write_wcofs_archive(nc_dir, DAYS)  # idempotent rewrite of day 1 + new day 2
    # the rewrite bumps day-1's mtime -> the file source sees a changed
    # file only if content differs; either way publish is idempotent
    run_catchup()
    for d_idx, day in enumerate(DAYS):
        got = os.path.join(out_s, f"wcofs_mag_{day}.tif")
        assert os.path.exists(got), day
    assert open(
        os.path.join(out_s, f"wcofs_mag_{DAYS[0]}.tif"), "rb"
    ).read() == day0_bytes

    # batch job over the full archive produces byte-identical rasters
    from pyofs_spark.jobs.wcofs_daily import build_wcofs_day

    for day in DAYS:
        build_wcofs_day(spark, nc_dir, day, grid, out_b, *spec)
    for day in DAYS:
        for v in ("mag", "direction"):
            s = open(os.path.join(out_s, f"wcofs_{v}_{day}.tif"), "rb").read()
            b = open(os.path.join(out_b, f"wcofs_{v}_{day}.tif"), "rb").read()
            assert s == b, (day, v)


def test_wcofs_rotation_plan_shape(spark):
    """Plan audit for the composed pipeline's hot join: the rho-angle
    dimension joins as BroadcastHashJoin; no nested-loop broadcast
    anywhere in the rotated dir/mag plan."""
    import tempfile

    from pyofs_spark.jobs.wcofs_daily import (
        rotated_dirmag_for_day, write_wcofs_archive,
    )
    from pyofs_spark.sources.grids import build_curvilinear_grid

    d = tempfile.mkdtemp()
    try:
        write_wcofs_archive(d, [DAYS[0]])
        grid = build_curvilinear_grid(spark, N_XI, N_ETA, RLON0, RLAT0, STEP)
        df = rotated_dirmag_for_day(spark, d, DAYS[0], grid)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "BroadcastNestedLoopJoin" not in plan
    finally:
        import shutil

        shutil.rmtree(d)
