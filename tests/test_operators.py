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
from pyofs_spark.plans.pipeline import geocode_pages, station_df, tile_assignment
from pyofs_spark.synth import synth_pages


def _knn_brute_py(qs, ps, k):
    out = {}
    for qid, qx, qy in qs:
        d = sorted(
            ((qx - px) * (qx - px) + (qy - py) * (qy - py), pid) for pid, px, py in ps
        )
        out[qid] = [(pid, d2) for d2, pid in d[:k]]
    return out


def test_knn_rings_exact_vs_brute(spark, monkeypatch):
    """Force the ring path and check exactness against pure-python brute
    force, with a clustered + sparse points side (ring expansion + tail)."""
    monkeypatch.setattr(knn, "INLINE_POINTS_THRESHOLD", 0)
    rng = np.random.default_rng(7)
    n_q, n_p = 400, 300
    qs = [(i, float(x), float(y)) for i, (x, y) in enumerate(
        zip(rng.uniform(-130, -110, n_q), rng.uniform(25, 50, n_q)))]
    # clustered points + a few isolated
    px = np.concatenate([rng.normal(-122, 0.5, n_p - 5), rng.uniform(60, 170, 5)])
    py = np.concatenate([rng.normal(37, 0.5, n_p - 5), rng.uniform(-60, 60, 5)])
    ps = [(f"p{i:03d}", float(x), float(y)) for i, (x, y) in enumerate(zip(px, py))]

    qdf = spark.createDataFrame(qs, "query_id long, lon double, lat double")
    pdf = spark.createDataFrame(ps, "point_id string, lon double, lat double")
    got = knn_join(qdf, pdf, k=3, res=6, max_ring=3).collect()
    exp = _knn_brute_py(qs, ps, 3)
    got_by_q = {}
    for r in got:
        got_by_q.setdefault(r.query_id, []).append((r.knn_rank, r.point_id, r.dist2))
    assert len(got_by_q) == n_q
    for qid, rows in got_by_q.items():
        rows.sort()
        assert [(pid, d2) for _, pid, d2 in rows] == exp[qid], f"query {qid}"


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
    got = nn_value_join(q, src, "val", res=8, max_ring=3, carry=("tag",)).collect()
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
