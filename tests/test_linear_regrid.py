"""Scattered linear regrid (J2): Delaunay kernel properties + distributed
operator vs the single-node kernel."""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyofs_spark.functions.delaunay import delaunay, linear_interp_scattered
from pyofs_spark.operators.regrid import regrid_linear_join


def test_delaunay_square():
    pts = np.array([[0.0, 0.0], [1.0, 0.0], [0.0, 1.0], [1.0, 1.0]])
    tris = delaunay(pts)
    assert len(tris) == 2
    # triangles cover the square: total area == 1
    area = 0.0
    for t in tris:
        a, b, c = pts[t]
        area += abs((b[0] - a[0]) * (c[1] - a[1]) - (c[0] - a[0]) * (b[1] - a[1])) / 2
    assert abs(area - 1.0) < 1e-12


def test_linear_interp_exact_on_affine_field():
    """Barycentric interp on ANY triangulation reproduces affine fields
    exactly — the J2 golden property (scipy-free)."""
    rng = np.random.default_rng(21)
    sx = rng.uniform(0, 10, 200)
    sy = rng.uniform(0, 10, 200)
    sv = 3.0 + 2.0 * sx - 1.5 * sy  # affine
    qx = rng.uniform(1, 9, 300)  # interior, inside hull
    qy = rng.uniform(1, 9, 300)
    got = linear_interp_scattered(sx, sy, sv, qx, qy)
    expect = 3.0 + 2.0 * qx - 1.5 * qy
    assert np.isfinite(got).all()
    assert np.allclose(got, expect, atol=1e-8)
    # outside hull → NaN
    out = linear_interp_scattered(sx, sy, sv, np.array([50.0]), np.array([50.0]))
    assert np.isnan(out[0])


def test_linear_interp_convexity_and_nan_drop():
    rng = np.random.default_rng(22)
    sx = rng.uniform(0, 10, 100)
    sy = rng.uniform(0, 10, 100)
    sv = rng.uniform(5, 7, 100)
    sv[::9] = np.nan  # dropped
    qx = rng.uniform(2, 8, 100)
    qy = rng.uniform(2, 8, 100)
    got = linear_interp_scattered(sx, sy, sv, qx, qy)
    ok = np.isfinite(got)
    assert ok.sum() > 80
    assert (got[ok] >= 5.0 - 1e-9).all() and (got[ok] <= 7.0 + 1e-9).all()


def test_distributed_linear_regrid_matches_kernel(spark):
    """Per-tile applyInPandas operator == single-node kernel on a dense
    scatter (halo covers the spacing, so tiling is transparent)."""
    rng = np.random.default_rng(23)
    n_src = 400
    sx = rng.uniform(-125, -115, n_src)
    sy = rng.uniform(30, 40, n_src)
    sv = 2.0 + 0.3 * sx + 0.7 * sy  # affine → exact regardless of tiling
    src = spark.createDataFrame(
        pd.DataFrame({"point_id": np.arange(n_src), "lon": sx, "lat": sy, "value": sv})
    )
    qx = rng.uniform(-124, -116, 200)
    qy = rng.uniform(31, 39, 200)
    tgt = spark.createDataFrame(
        pd.DataFrame({"query_id": np.arange(200), "lon": qx, "lat": qy})
    )
    got = {
        r.query_id: r.value
        for r in regrid_linear_join(src, tgt, tile_res=4).collect()
    }
    expect = 2.0 + 0.3 * qx + 0.7 * qy
    assert len(got) == 200
    for i in range(200):
        assert got[i] is not None and abs(got[i] - expect[i]) < 1e-8, i


def test_linear_regrid_keeps_64bit_target_ids(spark):
    """Target ids above 2**53 come back exactly (no float64 round trip)."""
    rng = np.random.default_rng(24)
    sx = rng.uniform(0, 10, 100)
    sy = rng.uniform(0, 10, 100)
    src = spark.createDataFrame(
        pd.DataFrame({"point_id": np.arange(100), "lon": sx, "lat": sy, "value": sx + sy})
    )
    ids = [2**53 + 1, 2**62 + 3]
    tgt = spark.createDataFrame(
        pd.DataFrame({"query_id": np.array(ids, np.int64), "lon": [5.0, 5.5], "lat": [5.0, 5.5]})
    )
    got = {r.query_id: r.value for r in regrid_linear_join(src, tgt).collect()}
    assert sorted(got) == ids
    assert abs(got[ids[0]] - 10.0) < 1e-9 and abs(got[ids[1]] - 11.0) < 1e-9


def test_adaptive_regrid_exact_across_void(spark):
    """Void fixture: two dense clusters separated by a ~12-degree void
    holding 8 sparse sources, queries spanning the void. A tiled
    triangulation over one ring of tiles diverges from the global one
    there: void-center tiles see too few sources to contain a query, and
    long triangles across the void differ from the global ones. The
    certified operator must equal the global kernel everywhere."""
    from pyofs_spark.functions import cells as C

    rng = np.random.default_rng(31)
    n_half = 120
    # non-affine field so triangulation differences actually show up
    sx = np.concatenate([rng.uniform(-12, -6, n_half), rng.uniform(6, 12, n_half)])
    sy = rng.uniform(0, 6, 2 * n_half)
    nq = 150
    qx = rng.uniform(-11, 11, nq)  # spans the void
    qy = rng.uniform(0.5, 5.5, nq)
    sx = np.concatenate([sx, rng.uniform(-6, 6, 8)])
    sy = np.concatenate([sy, rng.uniform(0, 6, 8)])
    sv = np.sin(sx * 0.7) + 0.25 * sy * sy + 0.1 * sx
    src = spark.createDataFrame(
        pd.DataFrame({"point_id": np.arange(len(sx)), "lon": sx, "lat": sy, "value": sv})
    )
    tgt = spark.createDataFrame(
        pd.DataFrame({"query_id": np.arange(nq), "lon": qx, "lat": qy})
    )
    expect = linear_interp_scattered(sx, sy, sv, qx, qy)

    got = {
        r.query_id: r.value
        for r in regrid_linear_join(src, tgt, tile_res=6).collect()
    }
    assert len(got) == nq
    for i in range(nq):
        if np.isnan(expect[i]):
            assert got[i] is None or np.isnan(got[i]), i
        else:
            assert got[i] is not None and abs(got[i] - expect[i]) < 1e-9, (
                i, got[i], expect[i])

    # evidence the fixture is actually hard: triangulating each query's
    # tile over only the sources in it and its one ring of tiles (no
    # certification) misses values AND returns wrong ones
    size = C.cell_size_deg(6)
    stx, sty = np.floor((sx + 180) / size), np.floor((sy + 90) / size)
    qtx, qty = np.floor((qx + 180) / size), np.floor((qy + 90) / size)
    one_ring = np.full(nq, np.nan)
    for tx, ty in set(zip(qtx, qty)):
        q = (qtx == tx) & (qty == ty)
        s = (np.abs(stx - tx) <= 1) & (np.abs(sty - ty) <= 1)
        one_ring[q] = linear_interp_scattered(sx[s], sy[s], sv[s], qx[q], qy[q])
    n_missing = np.sum(np.isnan(one_ring) & ~np.isnan(expect))
    n_wrong = np.sum(np.abs(one_ring - expect) > 1e-9)
    assert n_missing > 0 and n_wrong > 0, "fixture too easy for one ring of tiles"
