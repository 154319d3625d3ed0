"""Scipy-free Delaunay triangulation + barycentric linear interpolation —
the kernel behind scattered-data linear regrid (SURVEY J2; semantics of
scipy.interpolate.griddata(method='linear') as invoked by
main/validation/data_assimilation_validation.py:149-207).

Bowyer-Watson incremental triangulation (numpy per-step vectorization).
The distributed operator, operators/regrid.py:regrid_linear_join, shards
work per tile of at most a few thousand source points, so the python
insertion loop is not a hot path; only its global gather, which runs when
some query is still uncertified after the tiled passes, triangulates every
source.

Linear-interp property used for golden tests: barycentric interpolation on
ANY triangulation reproduces an affine field exactly, and outputs are
convex combinations of vertex values (bounded by source min/max).
"""

from __future__ import annotations

import numpy as np


def delaunay(points: np.ndarray) -> np.ndarray:
    """Bowyer-Watson. points: (n, 2) float64, n >= 3. Returns (m, 3) int
    vertex-index triangles. Duplicate points must be removed by caller."""
    pts = np.asarray(points, np.float64)
    n = len(pts)
    # super-triangle containing everything
    cx, cy = pts[:, 0].mean(), pts[:, 1].mean()
    span = max(np.ptp(pts[:, 0]), np.ptp(pts[:, 1]), 1e-9) * 1000.0
    sup = np.array(
        [[cx - 2 * span, cy - span], [cx + 2 * span, cy - span], [cx, cy + 2 * span]]
    )
    allp = np.vstack([pts, sup])
    tris: list[tuple[int, int, int]] = [(n, n + 1, n + 2)]

    def circumcircle_contains(tri_idx: np.ndarray, p: np.ndarray) -> np.ndarray:
        a, b, c = allp[tri_idx[:, 0]], allp[tri_idx[:, 1]], allp[tri_idx[:, 2]]
        # in-circumcircle determinant test (robust enough for fixtures;
        # ties broken by strict > 0 ⇒ boundary points excluded)
        ax, ay = a[:, 0] - p[0], a[:, 1] - p[1]
        bx, by = b[:, 0] - p[0], b[:, 1] - p[1]
        cx_, cy_ = c[:, 0] - p[0], c[:, 1] - p[1]
        det = (
            (ax * ax + ay * ay) * (bx * cy_ - cx_ * by)
            - (bx * bx + by * by) * (ax * cy_ - cx_ * ay)
            + (cx_ * cx_ + cy_ * cy_) * (ax * by - bx * ay)
        )
        # orientation sign
        orient = (b[:, 0] - a[:, 0]) * (c[:, 1] - a[:, 1]) - (c[:, 0] - a[:, 0]) * (
            b[:, 1] - a[:, 1]
        )
        return det * np.sign(orient) > 0

    for i in range(n):
        p = allp[i]
        tri_arr = np.array(tris)
        bad = circumcircle_contains(tri_arr, p)
        bad_tris = tri_arr[bad]
        # polygon hole boundary = edges appearing exactly once among bad tris
        edges: dict[tuple[int, int], int] = {}
        for t in bad_tris:
            for e in ((t[0], t[1]), (t[1], t[2]), (t[2], t[0])):
                key = (min(e), max(e))
                edges[key] = edges.get(key, 0) + 1
        boundary = [e for e, cnt in edges.items() if cnt == 1]
        tris = [tuple(t) for t in tri_arr[~bad]]
        for e in boundary:
            tris.append((e[0], e[1], i))
    out = [t for t in tris if max(t) < n]
    return np.array(out, dtype=np.int64).reshape(-1, 3)


def circumcircle(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> tuple[float, float, float]:
    """Circumcenter + radius of triangle (a, b, c)."""
    d = 2.0 * (a[0] * (b[1] - c[1]) + b[0] * (c[1] - a[1]) + c[0] * (a[1] - b[1]))
    if abs(d) < 1e-300:
        return np.nan, np.nan, np.inf
    a2, b2, c2 = a @ a, b @ b, c @ c
    ux = (a2 * (b[1] - c[1]) + b2 * (c[1] - a[1]) + c2 * (a[1] - b[1])) / d
    uy = (a2 * (c[0] - b[0]) + b2 * (a[0] - c[0]) + c2 * (b[0] - a[0])) / d
    return ux, uy, float(np.hypot(a[0] - ux, a[1] - uy))


def linear_interp_scattered(
    slon: np.ndarray,
    slat: np.ndarray,
    sval: np.ndarray,
    qlon: np.ndarray,
    qlat: np.ndarray,
    return_certificates: bool = False,
):
    """griddata('linear') semantics: NaN sources dropped, Delaunay over the
    rest, barycentric interp per query, NaN outside the convex hull.

    With return_certificates=True additionally returns (cc_x, cc_y, cc_r):
    the circumcircle of each query's containing triangle (inf radius when
    no triangle contains the query). Used by the tiled operator
    (operators/regrid.py:regrid_linear_join): by the Delaunay empty-circle
    property, a local triangle whose circumcircle lies inside the region
    whose points were all present locally is a triangle of the GLOBAL
    Delaunay triangulation, so the interpolated value is certified
    globally correct."""
    slon = np.asarray(slon, np.float64).ravel()
    slat = np.asarray(slat, np.float64).ravel()
    sval = np.asarray(sval, np.float64).ravel()
    keep = ~np.isnan(sval)
    P = np.column_stack([slon[keep], slat[keep]])
    V = sval[keep]
    q = np.column_stack([np.asarray(qlon, np.float64).ravel(), np.asarray(qlat, np.float64).ravel()])
    out = np.full(len(q), np.nan)
    ccx = np.full(len(q), np.nan)
    ccy = np.full(len(q), np.nan)
    ccr = np.full(len(q), np.inf)

    def _ret():
        return (out, ccx, ccy, ccr) if return_certificates else out

    if len(P) < 3:
        return _ret()
    # dedupe identical coordinates (keep first, matching griddata's qhull)
    _, uniq_idx = np.unique(P, axis=0, return_index=True)
    uniq_idx.sort()
    P, V = P[uniq_idx], V[uniq_idx]
    if len(P) < 3:
        return _ret()
    tris = delaunay(P)
    eps = 1e-10
    unassigned = np.ones(len(q), dtype=bool)
    for t in tris:
        a, b, c = P[t[0]], P[t[1]], P[t[2]]
        den = (b[1] - c[1]) * (a[0] - c[0]) + (c[0] - b[0]) * (a[1] - c[1])
        if abs(den) < 1e-30:
            continue
        w1 = ((b[1] - c[1]) * (q[:, 0] - c[0]) + (c[0] - b[0]) * (q[:, 1] - c[1])) / den
        w2 = ((c[1] - a[1]) * (q[:, 0] - c[0]) + (a[0] - c[0]) * (q[:, 1] - c[1])) / den
        w3 = 1.0 - w1 - w2
        inside = (w1 >= -eps) & (w2 >= -eps) & (w3 >= -eps) & unassigned
        out[inside] = (
            w1[inside] * V[t[0]] + w2[inside] * V[t[1]] + w3[inside] * V[t[2]]
        )
        if return_certificates and inside.any():
            cx, cy, r = circumcircle(a, b, c)
            ccx[inside], ccy[inside], ccr[inside] = cx, cy, r
        unassigned &= ~inside
    return _ret()
