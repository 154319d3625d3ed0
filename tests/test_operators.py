"""Operator-level Spark tests: kNN paths vs brute force, PIP SQL vs
numpy kernel, NN regrid vs golden kernel, byte identity through the full
pipeline (SURVEY §5 items 1, 2, 4)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from pyofs_spark.functions import kernels as K
from pyofs_spark.functions import polygons as P
from pyofs_spark.operators import knn
from pyofs_spark.operators.knn import knn_join, nn_value_join
from pyofs_spark.operators.pip import pip_fixed, pip_join_broadcast
from pyofs_spark.plans.pipeline import geocode_pages, tile_assignment
from pyofs_spark.synth import synth_pages


def _spark_order(d2):
    """Spark's ascending order of a dist2: NULL first, NaN after inf."""
    return (0, 0.0) if d2 is None else (2, 0.0) if d2 != d2 else (1, d2)


def _knn_brute_py(qs, ps, k):
    """{query_id: [(point_id, dist2), ...]}: the k best points of each query
    by (dist2 in Spark's order, point_id), over every point."""
    out = {}
    for qid, qx, qy in qs:
        d = [
            (None if qx is None or qy is None else (qx - px) * (qx - px) + (qy - py) * (qy - py), pid)
            for pid, px, py in ps
        ]
        d.sort(key=lambda e: (_spark_order(e[0]), e[1]))
        out[qid] = [(pid, d2) for d2, pid in d[:k]]
    return out


_SIZE = 180.0 / 64  # the cell edge at res 6, exact in binary


def _rings_inputs(rng):
    """Points and queries for the ring path at res 6 (cell edge _SIZE):
    a dense cluster and sparse points within the points' ±80° band, points
    on both sides of ±180°, points at inf, and small constructions whose
    answers lie just past what ring 1 shows."""
    ps = [(float(x), float(y)) for x, y in zip(rng.normal(-122, 0.5, 250), rng.normal(37, 0.5, 250))]
    ps += [(float(x), float(y)) for x, y in zip(
        np.concatenate([rng.uniform(-180, -140, 20), rng.uniform(140, 180, 20)]),
        np.concatenate([rng.uniform(-80, 80, 20), rng.uniform(0, 80, 20)]))]
    # both sides of the antimeridian near (±180, 10)
    ps += [(179.5, 10.2), (-179.5, 10.1), (-179.7, 9.5), (-179.2, 11.0)]
    # cell corner (x0, y0): points at exactly 1 and 2 cell edges, the two
    # at 2 edges in different cells (a tie that the point id breaks)
    x0, y0 = -180 + 85 * _SIZE, -90 + 18 * _SIZE
    ps += [(x0 + _SIZE, y0), (x0, y0 + 2 * _SIZE), (x0 - 2 * _SIZE, y0)]
    # ring 1 of (x1, y1) shows three points 1.5 edges away, but the nearest
    # lies 1.1 edges away in a cell two columns over
    x1, y1 = -180 + 99 * _SIZE + 0.01, -90 + 39 * _SIZE + 0.01
    ps += [(x1 + d, y1 + 1.5 * _SIZE) for d in (0.0, 0.05, -0.05)] + [(x1 - 1.1 * _SIZE, y1)]
    # seen from (0, 300), the three points at lat 80 are nearer than the
    # three at lat 70, though their cells are twice as far away
    ps += [(x, 70.0) for x in (0.0, 0.5, -0.5)] + [(x, 80.0) for x in (40.0, 41.0, 39.0)]
    # points at inf lie in a border cell but outside it: the one at
    # (inf, -45) is 3 cells from (169, -45), whose nearest point is 7 cells
    # away
    ps += [(150.0, -45.0), (float("inf"), -45.0), (170.0, float("-inf"))]
    ps = [(f"p{i:03d}", x, y) for i, (x, y) in enumerate(ps)]
    qs = [(float(x), float(y)) for x, y in zip(rng.uniform(-130, -110, 150), rng.uniform(25, 50, 150))]
    qs += [(180.0, 10.0), (-180.0, 10.0), (179.9, -5.0), (-179.9, 75.0)]  # ±180°
    qs += [(x0, y0), (x1, y1), (x0 + _SIZE / 2, y0 + _SIZE), (169.0, -45.0)]  # the constructions
    qs += [(-120.0, 85.0), (10.0, 89.9), (-150.0, -88.0)]  # beyond the points' band
    qs += [(0.0, 300.0), (200.0, 0.0), (-500.0, -100.0), (0.0, 95.0)]  # beyond ±90° / ±180°
    nan, inf = float("nan"), float("inf")
    qs += [(None, 1.0), (nan, 2.0), (inf, 3.0), (0.0, -inf), (None, None)]
    return ps, [(i, x, y) for i, (x, y) in enumerate(qs)]


@pytest.mark.parametrize(
    "shape, k",
    [
        pytest.param("knn_join", 1, id="knn_join-k1"),
        pytest.param("knn_join", 3, id="knn_join-k3"),
        pytest.param("nn_value_join", 1, id="nn_value_join"),
        pytest.param("k_above_points", 9, id="k-above-points"),
    ],
)
def test_knn_rings_exact_vs_brute(spark, monkeypatch, shape, k):
    """The ring path (forced) equals brute force over every point, with
    the (dist2, point_id) tie-break: for queries at ±180° with points on
    both sides, beyond the points' band, beyond ±90°/±180° (their cells
    are clamped), a k-th distance of exactly 1 or 2 cell edges, ties
    across cells, points at inf, k above the point count, and NULL, NaN
    or infinite query coordinates (which rank every point). nn_value_join
    carries its `carry` column from the same neighbour."""
    monkeypatch.setattr(knn, "INLINE_POINTS_THRESHOLD", 0)
    ps, qs = _rings_inputs(np.random.default_rng(7))
    if shape == "k_above_points":  # 8 points, two at inf; the edge queries
        ps, qs = ps[-8:], qs[150:]
    qdf = spark.createDataFrame(qs, "query_id long, lon double, lat double")
    want = _knn_brute_py(qs, ps, k)
    if shape == "nn_value_join":
        pdf = spark.createDataFrame(
            [(*p, float(i), 3 * i) for i, p in enumerate(ps)],
            "point_id string, lon double, lat double, val double, tag long",
        )
        got = nn_value_join(qdf, pdf, "val", res=6, carry=("tag",)).collect()
        assert len(got) == len(qs)
        index = {p[0]: i for i, p in enumerate(ps)}
        for r in got:
            assert _same([(r.point_id, r.dist2)], want[r.query_id]), f"query {r.query_id}"
            assert (r.val, r.tag) == (float(index[r.point_id]), 3 * index[r.point_id])
        return
    pdf = spark.createDataFrame(ps, "point_id string, lon double, lat double")
    got_by_q = {}
    for r in knn_join(qdf, pdf, k=k, res=6).collect():
        got_by_q.setdefault(r.query_id, []).append((r.knn_rank, r.point_id, r.dist2))
    assert set(got_by_q) == set(want)
    for qid, rows in got_by_q.items():
        rows.sort()
        assert [rank for rank, _, _ in rows] == list(range(1, len(rows) + 1))
        assert _same([(pid, d2) for _, pid, d2 in rows], want[qid]), f"query {qid}"


@pytest.mark.parametrize(
    "source, path",
    [
        pytest.param("pandas", "inline", id="pandas"),
        pytest.param("arrow", "inline", id="arrow"),
        pytest.param("pandas", "rings", id="pandas-rings"),
        pytest.param("arrow", "rings", id="arrow-rings"),
    ],
)
def test_nn_regrid_matches_golden_kernel(spark, monkeypatch, source, path):
    """nn_value_join == kernels.regrid_nearest (the reference-exact
    interpolate_grid 'nearest' twin, wcofs.py:1791-1827) on both paths; a
    `carry` column comes from the same neighbour as the value. A
    pandas-built source turns NaN into NULL; an Arrow-built one keeps the
    NaN values, which must be dropped as well."""
    if path == "rings":
        monkeypatch.setattr(knn, "INLINE_POINTS_THRESHOLD", 0)
    rng = np.random.default_rng(3)
    n_src = 200
    slon = rng.uniform(-125, -115, n_src)
    slat = rng.uniform(30, 40, n_src)
    sval = np.round(rng.uniform(0, 30, n_src), 3)
    sval[::17] = np.nan  # NaN sources must be dropped
    # regular output lattice
    qlon, qlat = np.meshgrid(np.linspace(-124, -116, 20), np.linspace(31, 39, 15))
    qlon, qlat = qlon.ravel(), qlat.ravel()

    golden = K.regrid_nearest(slon, slat, sval, qlon, qlat)

    ids = np.arange(n_src)
    cols = {"point_id": ids, "lon": slon, "lat": slat, "val": sval, "tag": 7 * ids + 3}
    src = spark.createDataFrame(pd.DataFrame(cols) if source == "pandas" else pa.table(cols))
    q = spark.createDataFrame(
        pd.DataFrame({"query_id": np.arange(len(qlon)), "lon": qlon, "lat": qlat})
    )
    got = nn_value_join(q, src, "val", res=8, carry=("tag",)).collect()
    got_map = {r.query_id: r.val for r in got}
    assert len(got_map) == len(qlon)
    for i in range(len(qlon)):
        assert got_map[i] == golden[i], f"query {i}: {got_map[i]} != {golden[i]}"
    for r in got:
        assert (r.val, r.tag) == (sval[int(r.point_id)], 7 * int(r.point_id) + 3)


def test_knn_tie_break_same_on_both_paths(spark, monkeypatch):
    """Points that share coordinates tie on dist2. A list of rows, an
    inline-sized DataFrame and the ring path all break the ties by the
    string point id, as the brute-force reference does ("p100" < "p12")."""
    xy = [(-122.0, 37.0), (-121.5, 37.0), (-122.0, 37.5), (-121.5, 37.5)]
    ps = [(f"p{n}", *xy[n % 4]) for n in (1, 2, 3, 4, 5, 9, 10, 12, 21, 100)]
    qs = [(i, x, y) for i, (x, y) in enumerate(
        [*xy, (-121.75, 37.25), (-121.75, 37.0), (-122.0, 37.25), (-125.0, 40.0)]
    )]
    qdf = spark.createDataFrame(qs, "query_id long, lon double, lat double")
    pdf = spark.createDataFrame(ps, "point_id string, lon double, lat double")

    def rows(points):
        return sorted(tuple(r) for r in knn_join(qdf, points, k=5).collect())

    want = sorted(
        (qid, pid, d2, rank)
        for qid, best in _knn_brute_py(qs, ps, 5).items()
        for rank, (pid, d2) in enumerate(best, 1)
    )
    assert rows(ps) == rows(pdf) == want
    monkeypatch.setattr(knn, "INLINE_POINTS_THRESHOLD", 0)
    assert rows(pdf) == want


def test_empty_point_side(spark):
    """No usable point (here the only one has a NaN value): nn_value_join
    keeps every query with NULL neighbour columns, as the golden kernel
    gives NaN everywhere, and knn_join ranks nothing. Point rows given as
    a list come back with string ids."""
    q = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 1.0, 1.0)], "query_id long, lon double, lat double"
    )
    p = spark.createDataFrame(pa.table(
        {"point_id": pa.array([7], pa.int64()), "lon": [0.5], "lat": [0.5], "val": [np.nan]}
    ))
    assert np.isnan(K.regrid_nearest(
        np.array([0.5]), np.array([0.5]), np.array([np.nan]), np.zeros(2), np.ones(2)
    )).all()
    got = nn_value_join(q, p, "val").collect()
    assert sorted(tuple(r) for r in got) == [
        (1, 0.0, 0.0, None, None, None), (2, 1.0, 1.0, None, None, None)
    ]
    assert knn_join(q, [], k=2).collect() == []
    assert knn_join(q, p.filter("false"), k=1).collect() == []
    got = knn_join(q, [(7, 1.0, 1.0), (8, 0.5, 0.5)], k=1).collect()
    assert sorted(tuple(r) for r in got) == [(1, "8", 0.5, 1), (2, "7", 0.0, 1)]


def _ranked_py(qs, ps, k):
    """Brute force in the inline path's order: (query_id, str(point_id),
    dist2, rank), ranked by (dist2, str(point_id), position). A query with a
    NULL or NaN coordinate has the same dist2 (NULL or NaN) to every point,
    so its k rows are the smallest ids."""
    out = []
    for qid, qx, qy in qs:
        def d2(p):
            return None if qx is None or qy is None else (qx - p[1]) ** 2 + (qy - p[2]) ** 2

        def key(e):
            d = d2(e[1])
            return (0.0 if d is None or d != d else d, str(e[1][0]), e[0])

        best = sorted(enumerate(ps), key=key)[:k]
        out += [(qid, str(p[0]), d2(p), rank) for rank, (_, p) in enumerate(best, 1)]
    return out


def _same(a, b) -> bool:
    """Row lists equal, NaN equal to NaN and -0.0 told from 0.0."""
    return len(a) == len(b) and all(
        len(x) == len(y) and all(repr(u) == repr(v) for u, v in zip(x, y)) for x, y in zip(a, b)
    )


def _grid_points(ids: str):
    """150 points on a 0.25-degree grid (so the lattice queries below tie),
    with string ids holding a comma, a quote and a backslash, or bigint ids
    above 2**53 whose string order differs from their numeric order."""
    rng = np.random.default_rng(11)
    cells = rng.choice(24 * 16, 150, replace=False)
    pid = {
        "string": lambda i: ["p,", "q'", "b\\", "z"][i % 4] + str(i),
        "bigint": lambda i: [2**53 + 1 + i, 10**17 + i][i % 2],
    }[ids]
    return [(pid(i), -10.0 + (c % 24) * 0.25, 40.0 + (c // 24) * 0.25)
            for i, c in enumerate(map(int, cells))]


def _queries():
    """On-grid and half-grid lattice queries (exact distance ties), queries
    at the antimeridian and far beyond the points' latitude band, and
    queries with a NULL or NaN coordinate."""
    lat = [(i, -11.0 + (i % 60) * 0.125, 39.0 + (i // 60) * 0.125) for i in range(60 * 44)]
    rng = np.random.default_rng(2)
    far = [(10_000 + i, float(x), float(y)) for i, (x, y) in
           enumerate(zip(rng.uniform(-180, 180, 200), rng.uniform(-90, 90, 200)))]
    edge = [(20_000, 180.0, 45.0), (20_001, -180.0, 45.0), (20_002, -180.0, -89.0),
            (20_003, 0.0, 89.9), (20_004, -7.0, -60.0), (20_005, -10.0, 40.0)]
    bad = [(30_000, None, 41.0), (30_001, float("nan"), 41.0), (30_002, -7.0, None),
           (30_003, -7.0, float("nan")), (30_004, None, None)]
    return lat + far + edge + bad


@pytest.mark.parametrize(
    "shape, k, ids",
    [
        pytest.param("knn_join", 1, "string", id="knn_join-k1-string"),
        pytest.param("knn_join", 3, "string", id="knn_join-k3-string"),
        pytest.param("knn_join", 1, "bigint", id="knn_join-k1-bigint"),
        pytest.param("knn_join", 3, "bigint", id="knn_join-k3-bigint"),
        pytest.param("nn_value_join", 1, "string", id="nn_value_join-string"),
        pytest.param("nn_value_join", 1, "bigint", id="nn_value_join-bigint"),
    ],
)
def test_inline_knn_cell_index_exact_vs_brute(spark, shape, k, ids):
    """The inline path's literal cell index gives exactly the brute-force
    ranking (dist2, then the ids' string order) for on-grid ties, queries
    at ±180° and beyond the points' band, and NULL or NaN query
    coordinates; `carry` values (NULL, -0.0, inf) ride with the value."""
    ps = _grid_points(ids)
    n = len(ps)
    lists = knn._cell_index(
        np.array([p[1] for p in ps]), np.array([p[2] for p in ps]), k
    )[1]
    assert len(lists) > 1 and 2 * max(map(len, lists)) <= n  # the grid prunes
    qs = _queries()
    qdf = spark.createDataFrame(qs, "query_id long, lon double, lat double")
    pid_type = "string" if ids == "string" else "bigint"
    want = sorted(_ranked_py(qs, ps, k))
    if shape == "knn_join":
        pdf = spark.createDataFrame(ps, f"point_id {pid_type}, lon double, lat double")
        for points in (ps, pdf):
            assert _same(sorted(tuple(r) for r in knn_join(qdf, points, k=k).collect()), want)
        return
    carry = [None, -0.0, float("inf"), 2.5]
    pdf = spark.createDataFrame(
        [(p[0], p[1], p[2], float(i), carry[i % 4]) for i, p in enumerate(ps)],
        f"point_id {pid_type}, lon double, lat double, val double, tag double",
    )
    got = nn_value_join(qdf, pdf, "val", carry=("tag",)).collect()
    assert [c for c in got[0].__fields__] == ["query_id", "lon", "lat", "point_id", "val", "tag", "dist2"]
    index = {str(p[0]): i for i, p in enumerate(ps)}
    assert _same(
        sorted((r.query_id, r.point_id, r.dist2, 1) for r in got), want
    )
    for r in got:
        i = index[r.point_id]
        assert _same([(r.val, r.tag)], [(float(i), carry[i % 4])])


def test_inline_knn_k_above_point_count(spark):
    """k larger than the point count ranks every point, in order."""
    ps = [("b", 0.0, 0.0), ("a", 1.0, 0.0), ("c", 0.0, 2.0)]
    qs = [(1, 0.5, 0.0), (2, 5.0, 5.0), (3, None, 1.0)]
    qdf = spark.createDataFrame(qs, "query_id long, lon double, lat double")
    got = sorted(tuple(r) for r in knn_join(qdf, ps, k=7).collect())
    assert _same(got, sorted(_ranked_py(qs, ps, 7))) and len(got) == 9


def test_inline_knn_size_does_not_grow_with_points(spark):
    """The expression has one slot per candidate of the longest cell list,
    not one per point: doubling the points at the same spacing adds cells
    and literal array entries, not slots."""
    def slots(nx):
        ps = [(j * nx + i, i * 0.25, j * 0.25) for j in range(10) for i in range(nx)]
        lists = knn._cell_index(np.array([p[1] for p in ps]), np.array([p[2] for p in ps]), 1)[1]
        q = spark.createDataFrame([(0, 1.0, 1.0)], "query_id long, lon double, lat double")
        plan = knn_join(q, ps, k=1)._jdf.queryExecution().analyzed().toString()
        assert plan.count("named_struct(dist2") == max(map(len, lists))
        return max(map(len, lists))

    small, large = slots(12), slots(24)
    assert small == large < 120 // 4


def test_inline_nn_over_range_lattice_stays_in_codegen(spark):
    """A 120-point nn_value_join over a spark.range lattice runs in
    whole-stage codegen: the cell index keeps the generated method under
    the limit that the 120 unrolled points exceeded."""
    from pyofs_spark.operators.regrid import lattice

    rng = np.random.default_rng(3)
    cells = rng.choice(1200, 120, replace=False)
    src = spark.createDataFrame(
        [(c, -126.0 + (c % 40) * 0.25, 32.0 + (c // 40) * 0.25, float(c)) for c in map(int, cells)],
        "point_id long, lon double, lat double, value double",
    )
    tgt = lattice(spark, -126.0, 32.0, 0.1, 100, 75, partitions=2)
    agg = nn_value_join(tgt, src, "value").agg(F.sum("value"), F.count("point_id"))
    assert agg.collect()[0][1] == 7500
    _assert_stays_in_codegen(spark, agg)


@pytest.mark.parametrize("path", ["inline", "rings"])
def test_point_without_location_is_dropped(spark, monkeypatch, path):
    """A point whose lon or lat is NULL or NaN is no neighbour of anything:
    knn_join and nn_value_join give what they give without it, on both
    paths and for a list of point rows."""
    if path == "rings":
        monkeypatch.setattr(knn, "INLINE_POINTS_THRESHOLD", 0)
    rng = np.random.default_rng(4)
    good = [(i, float(x), float(y), float(i)) for i, (x, y) in
            enumerate(zip(rng.uniform(-20, 20, 60), rng.uniform(-20, 20, 60)))]
    bad = [(98, None, 60.0, 98.0), (99, float("nan"), 60.0, 99.0), (97, 100.0, None, 97.0)]
    schema = "point_id bigint, lon double, lat double, val double"
    with_bad = spark.createDataFrame(good + bad, schema)
    without = spark.createDataFrame(good, schema)
    q = spark.createDataFrame(
        [(1, 100.0, 60.0), (2, 0.0, 0.0), (3, -170.0, -80.0)], "query_id long, lon double, lat double"
    )

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(knn_join(q, with_bad, k=2)) == rows(knn_join(q, without, k=2))
    assert rows(nn_value_join(q, with_bad, "val")) == rows(nn_value_join(q, without, "val"))
    if path == "inline":
        assert rows(knn_join(q, [r[:3] for r in good + bad], k=2)) == rows(
            knn_join(q, [r[:3] for r in good], k=2)
        )


def test_pip_sql_matches_numpy(spark):
    """The unrolled SQL ray cast and the numpy kernel agree on random and
    boundary points for every fixture polygon."""
    rng = np.random.default_rng(11)
    lon = np.concatenate([rng.uniform(-180, 180, 2000), [-126.0, -116.0, 170.0, -180.0]])
    lat = np.concatenate([rng.uniform(-90, 90, 2000), [32.0, 32.0, -10.0, 10.0]])
    df = spark.createDataFrame(pd.DataFrame({"i": np.arange(len(lon)), "lon": lon, "lat": lat}))
    for pid, rings in P.POLYGONS.items():
        got = (
            df.withColumn("inside", F.expr(P.pip_sql("lon", "lat", rings)))
            .orderBy("i")
            .select("inside")
            .toPandas()["inside"]
            .to_numpy()
        )
        expect = P.pip_numpy(lon, lat, rings)
        assert (got == expect).all(), pid


def test_pip_broadcast_udf_path(spark):
    """Path B (broadcast polygons + pandas UDF) agrees with Path A
    (codegen) on which points fall in which polygon."""
    pages = geocode_pages(synth_pages(spark, 500, 4))
    a = pip_fixed(pages).filter(F.col("polygon_id").isNotNull())
    a_rows = {(r.page_id, r.polygon_id) for r in a.select("page_id", "polygon_id").collect()}

    polys = spark.createDataFrame(
        P.polygons_long_rows(),
        "polygon_id string, ring_idx int, vertex_idx int, lon double, lat double",
    )
    b = pip_join_broadcast(spark, pages.select("page_id", "lon", "lat"), polys, res=4)
    b_rows = {(r.page_id, r.polygon_id) for r in b.collect()}
    # path A assigns ONE polygon (priority); path B returns all containments.
    # every A assignment must appear in B, and B restricted to priority = A.
    assert a_rows <= b_rows
    prio = {pid: i for i, pid in enumerate(P.POLYGONS)}
    b_first = {}
    for page, pid in sorted(b_rows, key=lambda t: (t[0], prio[t[1]])):
        b_first.setdefault(page, pid)
    assert {(k, v) for k, v in b_first.items()} == a_rows


def test_pip_and_knn_outputs_replace_inputs_and_quote_keys(spark):
    """pip_fixed and knn_inline_arrays replace input columns that carry
    their output names, and polygon keys holding a quote, a dash, a space,
    a dot, a backtick or a backslash name their `in_*` column and their
    polygon_id value verbatim."""
    from pyofs_spark.functions.stations import STATIONS
    from pyofs_spark.operators.knn import knn_inline_arrays

    rng = np.random.default_rng(5)
    lon = np.concatenate([rng.uniform(-160, -110, 400), [-150.0, -120.0]])
    lat = np.concatenate([rng.uniform(10, 50, 400), [20.0, 40.0]])
    keys = ["o'neil bay", "a-b.c", "back`tick\\x"]
    polys = dict(zip(keys, [P.COASTAL_POLY, P.DONUT_POLY, P.COASTAL_POLY]))
    df = spark.createDataFrame(
        pd.DataFrame({"i": np.arange(len(lon)), "lon": lon, "lat": lat})
    ).selectExpr(
        "*",
        "'stale' AS polygon_id",
        "false AS `in_o'neil bay`",
        "array('stale') AS knn_stations",
    )
    out = knn_inline_arrays(pip_fixed(df, polys=polys), STATIONS, 2)
    flags = [f"in_{key}" for key in keys]
    assert out.columns == ["i", "lon", "lat", *flags, "polygon_id", "knn_stations", "knn_dist2"]
    rows = sorted(out.collect(), key=lambda r: r.i)
    inside = {key: P.pip_numpy(lon, lat, rings) for key, rings in polys.items()}
    brute = _knn_brute_py([(r.i, r.lon, r.lat) for r in rows], STATIONS, 2)
    for r in rows:
        assert [r[f] for f in flags] == [bool(inside[key][r.i]) for key in keys]
        assert r.polygon_id == next((key for key in keys if inside[key][r.i]), None)
        assert list(zip(r.knn_stations, r.knn_dist2)) == brute[r.i]
    assert {r.polygon_id for r in rows} == {keys[0], keys[1], None}


def test_pipeline_byte_identity(spark):
    """north_star invariant: text passes through the full pipeline
    byte-identical per url (checked via md5 + direct equality)."""
    pages = synth_pages(spark, 300, 4)
    out = tile_assignment(spark, pages, k=2, with_knn=False)
    joined = (
        out.select("page_id")
        .join(pages.select("page_id", F.md5("text").alias("h1"), "text"), "page_id")
        .join(
            synth_pages(spark, 300, 8).select(
                "page_id", F.md5("text").alias("h2"), F.col("text").alias("text2")
            ),
            "page_id",
        )
    )
    assert joined.count() == 300
    assert joined.filter("h1 != h2 OR text != text2").count() == 0


def test_tile_assignment_deterministic_across_parallelism(spark):
    """Same tile assignments regardless of partitioning (scaling-correctness
    precondition for the two-cluster-size rule)."""
    a = tile_assignment(spark, synth_pages(spark, 400, 2), k=1).collect()
    b = tile_assignment(spark, synth_pages(spark, 400, 16), k=1).collect()
    ka = {r.page_id: (r.cell_id, r.polygon_id, r.knn_stations, r.knn_dist2) for r in a}
    kb = {r.page_id: (r.cell_id, r.polygon_id, r.knn_stations, r.knn_dist2) for r in b}
    assert ka == kb


def test_station_fixture_pip():
    """One fixture station lies outside the coastal polygon (FIXTURES §5)."""
    from pyofs_spark.functions.stations import STATIONS

    lon = np.array([s[1] for s in STATIONS])
    lat = np.array([s[2] for s in STATIONS])
    inside = P.pip_numpy(lon, lat, P.COASTAL_POLY)
    names_out = {s[0] for s, i in zip(STATIONS, inside) if not i}
    assert "41001" in names_out and "51001" in names_out


def test_url_keyed_flagship_zero_python_plan(spark):
    """Flagship on a STRING (url) key: xxhash64-based geocode keeps the
    whole pipeline JVM-side — no Python eval node, no shuffle (single
    map-only stage), deterministic per url."""
    pages = synth_pages(spark, 2000, 8)
    out = tile_assignment(spark, pages, key_col="url", k=1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan  # no row-wise or Arrow Python eval
    assert "Exchange" not in plan  # zero-shuffle map-only plan
    rows = out.collect()
    assert len(rows) == 2000
    # deterministic: same url -> same assignment on a re-run
    again = {r.url: (r.cell_id, r.polygon_id) for r in
             tile_assignment(spark, pages, key_col="url", k=1).collect()}
    for r in rows:
        assert again[r.url] == (r.cell_id, r.polygon_id)
    # coast bias survives the hash route: a plurality of pages in hot cells
    n_hot = sum(1 for r in rows if r.polygon_id is not None)
    assert 0.2 * len(rows) < n_hot < 0.8 * len(rows)


def _assert_stays_in_codegen(spark, df) -> None:
    """Spark abandons whole-stage codegen AT RUN TIME for a subtree whose
    largest generated method exceeds spark.sql.codegen.hugeMethodLimit;
    explain() and the `*(n)` markers of executedPlan still show codegen
    then, so the bytecode size of every subtree of df's executed plan (the
    final plan, once run) is what tells."""
    limit = int(spark.conf.get("spark.sql.codegen.hugeMethodLimit"))
    plan = df._jdf.queryExecution().executedPlan()
    seq = spark._jvm.org.apache.spark.sql.execution.debug.package.codegenStringSeq(plan)
    sizes = [seq.apply(i)._3().maxMethodCodeSize() for i in range(seq.size())]
    assert sizes, "no whole-stage codegen subtree"
    assert max(sizes) <= limit, (sizes, limit)


def test_portable_url_key_stays_in_codegen(spark):
    """The md5-polynomial portable url key (oracle-gated path) must keep
    the geocode projection inside whole-stage codegen — no EvalPython, no
    CodegenFallback drop-out, no run-time fallback."""
    from pyspark.sql import functions as F

    from pyofs_spark.functions import cells, geocode

    url = "concat('https://example.org/', cast(id as string))"
    key = geocode.geocode_url_key_portable_sql(url)
    df = (
        spark.range(0, 1000)
        .withColumn("url_key", F.expr(key))
        .withColumn("lon", F.expr(geocode.geocode_id_lon_sql("url_key")))
        .withColumn("lat", F.expr(geocode.geocode_id_lat_sql("url_key")))
        .withColumn("cell_id", F.expr(cells.cell_id_sql("lon", "lat", 8)))
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert df.where("cell_id IS NULL OR url_key < 0").count() == 0
    _assert_stays_in_codegen(spark, df)


def test_flagship_stage_stays_in_codegen_at_run_time(spark):
    """The fused geocode → cells → PIP → kNN stage must fit under the
    session's hugeMethodLimit in both shapes that run it: an aggregate
    over every output column (the benchmark's pass) and the full-output
    write (the CLI's tile-assign sink)."""
    from pyofs_spark.functions.stations import STATIONS

    out = tile_assignment(spark, synth_pages(spark, 3000, 4), k=3)
    agg = out.agg(
        F.count("*"),
        F.sum("page_id"),
        F.count("url"),
        F.max("warc_ts"),
        F.count("lang"),
        F.sum("lon"),
        F.sum("lat"),
        F.sum("cell_id"),
        F.count("polygon_id"),
        F.count(F.element_at("knn_stations", 3)),
        F.sum(F.element_at("knn_dist2", 1)),
        *[
            F.sum(F.when(F.element_at("knn_stations", 1) == sid, 1).otherwise(0))
            for sid, _, _ in STATIONS
        ],
    )
    row = agg.collect()[0]
    assert row[0] == 3000 and row[9] == 3000
    _assert_stays_in_codegen(spark, agg)
    out.write.format("noop").mode("overwrite").save()
    _assert_stays_in_codegen(spark, out)


def test_null_location_contract(spark):
    """A NULL key (bigint or url) yields NULL lon/lat, cell_id, polygon_id,
    knn_stations and knn_dist2 — no made-up location, no station list —
    and every non-NULL key gets exactly the assignment of the
    non-nullable-key path."""
    pages = synth_pages(spark, 200, 2).select("page_id", "url", "warc_ts", "lang")
    nulled = pages.selectExpr(
        "CASE WHEN page_id % 7 = 0 THEN NULL ELSE page_id END AS page_id",
        "CASE WHEN page_id % 7 = 0 THEN NULL ELSE url END AS url",
        "warc_ts",
        "lang",
    )
    assert not pages.schema["page_id"].nullable
    assert nulled.schema["page_id"].nullable and nulled.schema["url"].nullable
    cols = ("lon", "lat", "cell_id", "polygon_id", "knn_stations", "knn_dist2")
    for key in ("page_id", "url"):
        want = {r[key]: tuple(r[c] for c in cols)
                for r in tile_assignment(spark, pages, key_col=key, k=3).collect()}
        got = tile_assignment(spark, nulled, key_col=key, k=3).collect()
        assert len(got) == 200
        n_null = 0
        for r in got:
            vals = tuple(r[c] for c in cols)
            if r[key] is None:
                n_null += 1
                assert vals == (None,) * len(cols), (key, vals)
            else:
                assert vals == want[r[key]], (key, r[key])
        assert n_null == len(range(0, 200, 7))
