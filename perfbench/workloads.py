"""The benchmark workloads, driven through pyofs_spark's public API.

Each workload builds its inputs from the seed in `prepare()`, runs one
pass per `run_pass(tracer)` (returning its input row count and exact
integer checksums), and checks its outputs against the references in
oracles.py. Traced runs additionally wrap layer calls in spans and run
`probe()` for measurements a plain pass cannot give.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import harness
import oracles
from pyofs_spark import lineage
from pyofs_spark.functions import cells, kernels, polygons
from pyofs_spark.functions.geocode import COAST_CENTERS
from pyofs_spark.functions.stations import STATIONS
from pyofs_spark.jobs import daily
from pyofs_spark.operators.knn import knn_inline_arrays, knn_join
from pyofs_spark.operators.pip import pip_fixed, pip_join_broadcast
from pyofs_spark.operators.regrid import (
    lattice,
    regrid_bilinear_regular,
    regrid_nearest_join,
)
from pyofs_spark.plans.pipeline import assign_cells, geocode_pages, tile_assignment
from pyofs_spark.sources import gpkg
from pyofs_spark.synth import synth_pages

K = 3  # neighbours per page, as the CLI tile-assign default
SAMPLE_MOD = 1009  # row-level checks look at page_id % SAMPLE_MOD == seed % SAMPLE_MOD
STATION_IDS = sorted(s for s, _, _ in STATIONS)


def _du(path: str) -> tuple[int, int]:
    """(bytes, files) under a directory."""
    size = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files


def _write_parquet(df: pd.DataFrame, path: str) -> str:
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path)
    return path


class Workload:
    name = ""
    input_row = ""
    writes = False
    # untimed passes before the timed ones: the JIT keeps speeding up the
    # generated code of the cheaper workloads for many passes. A count, not
    # a time, so that a slow host does not also time less optimised code.
    warm_passes = 1

    def __init__(self, spark, seed: int, scale: float = 1.0):
        self.spark = spark
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.dir = os.path.join(harness.WORK, self.name)
        self.parts = 4 * harness.cores()
        self._reference = None

    # -- inputs -------------------------------------------------------------

    def page_range(self, n: int) -> tuple[int, int]:
        """The seed offsets the synthetic page-id range."""
        lo = (self.seed % 1000) * 97
        return lo, lo + n

    def pages(self, n: int):
        lo, hi = self.page_range(n)
        return synth_pages(self.spark, hi, self.parts).filter(F.col("page_id") >= lo)

    def prepare(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)

    def reset(self) -> None:
        """Untimed clean-up before each pass."""

    # -- checks -------------------------------------------------------------

    def reference(self) -> dict:
        if self._reference is None:
            self._reference = self.build_reference()
        return self._reference

    def check_pass(self, checksum: dict, first: dict) -> list[str]:
        """A pass's checksums against the reference (the keys it has) and
        against the run's first pass (every key, bit for bit)."""
        ref = self.reference()
        bad = oracles.compare_dicts(self.name, {k: checksum.get(k) for k in ref}, ref)
        return bad + oracles.compare_dicts(self.name + " repeat", checksum, first)

    def check_outputs(self) -> list[str]:
        return []

    # -- traced extras ------------------------------------------------------

    def traced(self, tr):
        """Context for traced passes: wrappers around eager layer calls."""
        return contextlib.nullcontext()

    def probe(self, tr) -> dict:
        return {}

    def layer_metrics(self, tr, ev: dict, n_passes: int, last: dict) -> dict:
        return {}


# ---------------------------------------------------------------------------
# tile assignment: the map-only north-star job
# ---------------------------------------------------------------------------


def tile_aggs():
    return [
        F.count("*").alias("n"),
        F.sum("cell_id").alias("sum_cell"),
        F.count(F.element_at("knn_stations", K)).alias("n_k"),
        # forces the distance column too; a float sum, so not a checksum
        F.sum(F.element_at("knn_dist2", 1)).alias("sum_d2"),
        *[
            F.sum(F.when(F.col("polygon_id") == pid, 1).otherwise(0)).alias(f"poly_{i}")
            for i, pid in enumerate(polygons.POLYGONS)
        ],
        *[
            F.sum(F.when(F.element_at("knn_stations", 1) == sid, 1).otherwise(0)).alias(f"hist_{i}")
            for i, sid in enumerate(STATION_IDS)
        ],
    ]


def tile_checksum(row) -> dict:
    return {
        "n": row["n"],
        "sum_cell": row["sum_cell"],
        "n_k": row["n_k"],
        "poly": {pid: row[f"poly_{i}"] for i, pid in enumerate(polygons.POLYGONS)},
        "hist": {sid: row[f"hist_{i}"] for i, sid in enumerate(STATION_IDS)},
    }


def ablation(pages, reps: int, tr) -> dict:
    """Prefix ablation of the fused pipeline: each step adds one layer and
    forces its new columns; a step's median minus the previous step's is
    that layer's self time."""
    base = pages.select("page_id", "url", "warc_ts", "lang")
    geo = geocode_pages(base)
    cel = assign_cells(geo)
    pip = pip_fixed(cel).select(*base.columns, "lon", "lat", "cell_id", "polygon_id")
    knn = knn_inline_arrays(pip, STATIONS, K)
    a_synth = [F.count("*"), F.sum(F.length("url")), F.max("warc_ts"), F.count("lang")]
    a_geo = a_synth + [F.sum("lon"), F.sum("lat")]
    a_cells = a_geo + [F.sum("cell_id")]
    a_pip = a_cells + [F.count("polygon_id")]
    a_knn = a_pip + [F.sum(F.element_at("knn_dist2", 1)), F.count(F.element_at("knn_stations", K))]
    steps = [
        ("synth.self_s", base, a_synth),
        ("geocode.self_s", geo, a_geo),
        ("cells.self_s", cel, a_cells),
        ("pip.fixed_self_s", pip, a_pip),
        ("knn.inline_self_s", knn, a_knn),
    ]
    times = {name: [] for name, _, _ in steps}
    for _ in range(reps):
        for name, df, a in steps:
            with tr.span("ablation." + name):
                t = time.perf_counter()
                df.agg(*a).collect()
                times[name].append(time.perf_counter() - t)
    out, prev = {}, 0.0
    for name, _, _ in steps:
        m = harness.median(times[name])
        out[name] = m - prev
        prev = m
    return out


class TileAssign(Workload):
    name = "tile_assign"
    input_row = "page"
    warm_passes = 10

    def __init__(self, spark, seed, scale=1.0):
        super().__init__(spark, seed, scale)
        # a batch of 250k pages: about a quarter of a pass is then per-page
        # work and the rest fixed per-job and per-task work. With 1M pages
        # the CPU-bound per-page part, whose speed follows the shared host's
        # load, made the spread of run_s over seeds three times as wide.
        self.n = int(250_000 * scale)

    def run_pass(self, tr) -> dict:
        with tr.span("pipeline.plan"):
            out = tile_assignment(self.spark, self.pages(self.n), k=K)
        with tr.span("pipeline.execute"):
            row = out.agg(*tile_aggs()).collect()[0]
        return {"rows_in": self.n, "checksum": tile_checksum(row)}

    def build_reference(self) -> dict:
        lo, hi = self.page_range(self.n)
        ref = oracles.tile_reference(lo, hi, K, (SAMPLE_MOD, self.seed % SAMPLE_MOD))
        self.sample_rows = ref.pop("rows")
        return ref

    def check_outputs(self) -> list[str]:
        self.reference()
        out = tile_assignment(self.spark, self.pages(self.n), k=K)
        got = {
            r["page_id"]: (r["cell_id"], r["polygon_id"], tuple(r["knn_stations"]))
            for r in out.filter(F.col("page_id") % SAMPLE_MOD == self.seed % SAMPLE_MOD)
            .select("page_id", "cell_id", "polygon_id", "knn_stations")
            .collect()
        }
        return oracles.compare_dicts("tile_assign rows", got, self.sample_rows)

    def probe(self, tr) -> dict:
        return ablation(self.pages(self.n), 4, tr)

    def layer_metrics(self, tr, ev, n_passes, last) -> dict:
        return {
            "pipeline.plan_s": harness.median(tr.durations("pipeline.plan")),
            "pipeline.exec_cpu_s": ev_get(ev, "pipeline.execute", "cpu_ns") / 1e9 / n_passes,
        }


# ---------------------------------------------------------------------------
# spatial joins: shuffle, skew, Arrow/Python paths
# ---------------------------------------------------------------------------

KNN_RES = 6  # knn_join's default cell resolution
GRID = dict(lon0=-150.0, lat0=0.0, step=0.25, n_lon=361, n_lat=241)
NN_TARGETS = dict(lon0=-128.0, lat0=31.0, step=0.5, n_lon=30, n_lat=38)
SJ_SAMPLE_MOD = 97  # kNN rows are checked by brute force for page_id % 97 == seed % 97


def star_polygon(rng, cx: float, cy: float, radius: float, hole: bool) -> list:
    """A simple polygon with 8 vertices at jittered angles and radii; the
    seed moves it but keeps its size, so the work it causes is steady."""
    ang = (np.arange(8) + rng.uniform(0.1, 0.9, 8)) * (np.pi / 4)
    rad = radius * rng.uniform(0.8, 1.0, 8)
    ext = [(float(cx + r * np.cos(a)), float(cy + r * np.sin(a))) for a, r in zip(ang, rad)]
    rings = [ext]
    if hole:
        rings.append([(cx + 0.3 * (x - cx), cy + 0.3 * (y - cy)) for x, y in ext[::-1]])
    return rings


class SpatialJoin(Workload):
    """Coast-biased query pages through the kNN ring join, the broadcast
    polygon join and the bilinear regrid; skewed sources through the
    nearest-neighbour regrid. Each step's output is collected to the
    driver through Arrow, which is also what the checks read."""

    name = "spatial_join"
    input_row = "query page"

    def __init__(self, spark, seed, scale=1.0):
        super().__init__(spark, seed, scale)
        self.n = int(10_000 * scale)
        self.parts = harness.cores()  # small inputs: one partition per task slot
        # both point tables stay above knn.BRUTE_POINTS_THRESHOLD, so the
        # `auto` strategy picks the expanding-ring join for each
        self.n_points = 24_000
        self.n_sources = 21_000

    def prepare(self) -> None:
        super().prepare()
        rng = self.rng
        self.points = pd.DataFrame(
            {
                "point_id": np.arange(self.n_points, dtype=np.int64),
                "lon": rng.uniform(-180.0, 180.0, self.n_points),
                "lat": rng.uniform(-80.0, 80.0, self.n_points),
            }
        )
        polys = {}
        for i in range(8):
            if i < 4:  # on the coastal hot spots, where the skewed pages land
                cx, cy = COAST_CENTERS[(i + self.seed) % len(COAST_CENTERS)]
                cx, cy = cx + rng.uniform(-1, 1), cy + rng.uniform(-1, 1)
            else:
                cx, cy = rng.uniform(-170, 170), rng.uniform(-60, 60)
            polys[f"p{i}"] = star_polygon(rng, cx, cy, 2.0 + i % 4, hole=i % 3 == 0)
        self.polys = polys
        poly_df = pd.DataFrame(
            [
                (pid, ri, vi, x, y)
                for pid, rings in polys.items()
                for ri, ring in enumerate(rings)
                for vi, (x, y) in enumerate(ring)
            ],
            columns=["polygon_id", "ring_idx", "vertex_idx", "lon", "lat"],
        )
        gi, gj = np.meshgrid(np.arange(GRID["n_lon"]), np.arange(GRID["n_lat"]))
        glon = GRID["lon0"] + gi * GRID["step"]
        glat = GRID["lat0"] + gj * GRID["step"]
        self.grid = np.sin(np.radians(glon) * 3) * np.cos(np.radians(glat) * 2) * 10
        self.grid += rng.normal(0, 0.1, glon.shape)
        grid_df = pd.DataFrame({"gi": gi.ravel(), "gj": gj.ravel(), "value": self.grid.ravel()})
        # 70% of the sources crowd six coastal hot spots: hot cells
        hot = int(self.n_sources * 0.7)
        centers = np.array(COAST_CENTERS)[np.arange(hot) % len(COAST_CENTERS)]
        cold = self.n_sources - hot
        self.sources = pd.DataFrame(
            {
                "point_id": np.arange(self.n_sources, dtype=np.int64),
                "lon": np.concatenate([centers[:, 0] + rng.uniform(-0.3, 0.3, hot), rng.uniform(-130, -114, cold)]),
                "lat": np.concatenate([centers[:, 1] + rng.uniform(-0.3, 0.3, hot), rng.uniform(30, 50, cold)]),
                "value": rng.normal(15, 5, self.n_sources),
            }
        )
        self.paths = {
            name: _write_parquet(df, os.path.join(self.dir, f"{name}.parquet"))
            for name, df in (
                ("points", self.points),
                ("polygons", poly_df),
                ("grid", grid_df),
                ("sources", self.sources),
            )
        }

    def run_pass(self, tr) -> dict:
        read = self.spark.read.parquet
        q = geocode_pages(self.pages(self.n)).select("page_id", "lon", "lat")
        with tr.span("knn.rings"):
            kn = knn_join(q, read(self.paths["points"]), k=K, query_key="page_id").toPandas()
        with tr.span("pip.broadcast"):
            pj = pip_join_broadcast(self.spark, q, read(self.paths["polygons"]))
            pj = pj.select("page_id", "polygon_id").toPandas()
        with tr.span("regrid.bilinear"):
            bl = regrid_bilinear_regular(q, read(self.paths["grid"]), **GRID)
            bl = bl.select("page_id", "v_interp").toPandas()
        with tr.span("regrid.nearest"):
            tgt = lattice(self.spark, **NN_TARGETS, partitions=self.parts)
            nn = regrid_nearest_join(read(self.paths["sources"]), tgt).toPandas()
        self.outputs = kn, pj, bl, nn
        bound = cells.cell_size_deg(KNN_RES) ** 2
        return {
            "rows_in": self.n,
            "checksum": {
                "knn_rows": len(kn),
                "knn_sum_pid": int(kn["point_id"].sum()),
                "knn_settled_ring1": int(((kn["knn_rank"] == K) & (kn["dist2"] < bound)).sum()),
                "pip": {pid: int((pj["polygon_id"] == pid).sum()) for pid in self.polys},
                "bilinear_rows": len(bl),
                "bilinear_nonnull": int(bl["v_interp"].notna().sum()),
                "nearest_rows": len(nn),
                "nearest_sum_pid": int(nn["point_id"].sum()),
            },
        }

    def _targets(self):
        t = NN_TARGETS
        gi, gj = np.meshgrid(np.arange(t["n_lon"]), np.arange(t["n_lat"]))
        gi, gj = gi.ravel(), gj.ravel()
        return gi + gj * t["n_lon"], t["lon0"] + gi * t["step"], t["lat0"] + gj * t["step"]

    def build_reference(self) -> dict:
        lo, hi = self.page_range(self.n)
        self.geo = oracles.geocoded_pages(lo, hi)
        glon = GRID["lon0"] + np.arange(GRID["n_lon"]) * GRID["step"]
        glat = GRID["lat0"] + np.arange(GRID["n_lat"]) * GRID["step"]
        self.bilinear = kernels.bilinear_interp(glon, glat, self.grid, self.geo["lon"], self.geo["lat"])
        _, tlon, tlat = self._targets()
        s = self.sources
        nearest_id = np.concatenate(
            [
                kernels.regrid_nearest(s["lon"], s["lat"], s["point_id"].astype(float), tlon[c : c + 256], tlat[c : c + 256])
                for c in range(0, len(tlon), 256)
            ]
        )
        return {
            "knn_rows": K * self.n,
            "pip": oracles.polygon_counts_sql(lo, hi, self.polys),
            "bilinear_rows": self.n,
            "bilinear_nonnull": int(np.count_nonzero(~np.isnan(self.bilinear))),
            "nearest_rows": len(tlon),
            "nearest_sum_pid": int(nearest_id.sum()),
        }

    def check_outputs(self) -> list[str]:
        self.reference()
        kn, pj, bl, nn = self.outputs
        geo, bad = self.geo, []
        # kNN rows of the sampled queries: brute force over every point
        idx = np.flatnonzero(geo["page_id"] % SJ_SAMPLE_MOD == self.seed % SJ_SAMPLE_MOD)
        p = self.points
        top = oracles.topk_bruteforce(
            geo["lon"][idx], geo["lat"][idx], p["lon"].to_numpy(), p["lat"].to_numpy(), p["point_id"].to_numpy(), K
        )
        want = {(int(geo["page_id"][i]), r + 1): int(top[j, r]) for j, i in enumerate(idx) for r in range(K)}
        sample = kn[kn["page_id"] % SJ_SAMPLE_MOD == self.seed % SJ_SAMPLE_MOD]
        got = {(int(a), int(r)): int(b) for a, b, r in zip(sample["page_id"], sample["point_id"], sample["knn_rank"])}
        bad += oracles.compare_dicts("knn_join rows", got, want)
        # every PIP containment against the numpy ray cast
        want = {
            (int(pg), pid)
            for pid, rings in self.polys.items()
            for pg in geo["page_id"][polygons.pip_numpy(geo["lon"], geo["lat"], rings)]
        }
        got = set(zip(pj["page_id"].astype(int), pj["polygon_id"]))
        if got != want:
            bad.append(f"pip_join_broadcast: {len(got ^ want)} rows differ from pip_numpy")
        # every bilinear value against kernels.bilinear_interp
        vals = bl.set_index("page_id")["v_interp"].reindex(geo["page_id"]).to_numpy(dtype=float)
        if not oracles.close(vals, self.bilinear, oracles.FLOAT_RTOL):
            bad.append("regrid_bilinear_regular values differ from kernels.bilinear_interp")
        # every regridded target against kernels.regrid_nearest
        qid, tlon, tlat = self._targets()
        s = self.sources
        want_v = np.concatenate(
            [
                kernels.regrid_nearest(s["lon"], s["lat"], s["value"], tlon[c : c + 256], tlat[c : c + 256])
                for c in range(0, len(tlon), 256)
            ]
        )
        got_v = nn.set_index("query_id")["value"].reindex(qid).to_numpy(dtype=float)
        if not np.array_equal(got_v, want_v, equal_nan=True):
            bad.append("regrid_nearest_join values differ from kernels.regrid_nearest")
        return bad

    def layer_metrics(self, tr, ev, n_passes, last) -> dict:
        c = last["checksum"]
        udf_rows = ev_get(ev, "pip.broadcast", "udf_rows") / n_passes
        return {
            "knn.rings_s": harness.median(tr.durations("knn.rings")),
            "knn.candidates_per_query": ev_get(ev, "knn.rings", "join_rows") / n_passes / c["knn_rows"],
            "knn.settled_frac_ring1": c["knn_settled_ring1"] / self.n,
            "knn.shuffle_mb": ev_get(ev, "knn.rings", "shuffle_write") / 1e6 / n_passes,
            "knn.spill_mb": ev_get(ev, "knn.rings", "spill") / 1e6 / n_passes,
            "pip.broadcast_s": harness.median(tr.durations("pip.broadcast")),
            "pip.udf_rows": udf_rows,
            "pip.udf_hit_ratio": sum(c["pip"].values()) / udf_rows if udf_rows else 0.0,
            "regrid.bilinear_s": harness.median(tr.durations("regrid.bilinear")),
            "regrid.nearest_s": harness.median(tr.durations("regrid.nearest")),
        }


# ---------------------------------------------------------------------------
# daily raster ETL: a crash, a resume and a re-run of the lineage-backed job
# ---------------------------------------------------------------------------


@contextlib.contextmanager
def patched(*patches):
    """Temporarily set (owner, attr, value) patches."""
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in patches]
    for owner, attr, value in patches:
        setattr(owner, attr, value)
    try:
        yield
    finally:
        for owner, attr, value in saved:
            setattr(owner, attr, value)


class DailyEtl(Workload):
    """run_daily_job over (variable, day) partitions of seed-generated
    events with the sf0.1 `events` schema: a first invocation that gets only
    half the partitions (a simulated crash), a resume with all of them, and
    a re-run that only skips. Many small Spark jobs plus the real GeoTIFF,
    NetCDF-3 and GeoPackage sinks."""

    name = "daily_etl"
    input_row = "events row scanned"
    writes = True
    warm_passes = 2
    variables = ("sst", "ssh")

    def __init__(self, spark, seed, scale=1.0):
        super().__init__(spark, seed, scale)
        self.n_events = int(100_000 * scale)
        self.days = (f"2024-01-{2 + seed % 28:02d}",)
        self.sf_dir = os.path.join(self.dir, "sf")
        self.out = os.path.join(self.dir, "out")
        self.commit_bytes: list[int] = []

    def prepare(self) -> None:
        super().prepare()
        os.makedirs(self.sf_dir)
        rng, n = self.rng, self.n_events
        micros = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
        value = np.round(rng.gamma(2.0, 30.0, n), 2)
        value[rng.random(n) < 0.001] = 1e12  # outliers the sanity filter drops
        self.events = pd.DataFrame(
            {
                "event_id": np.arange(n, dtype=np.int64),
                "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(micros, unit="us"),
                "user_id": rng.integers(0, 1500, n, dtype=np.int64),
                "event_type": "view",
                "value": value,
                "props": "{}",
            }
        )
        table = pa.Table.from_pandas(self.events, preserve_index=False)
        table = table.cast(table.schema.set(1, pa.field("ts", pa.timestamp("us"))))
        pq.write_table(table, os.path.join(self.sf_dir, "events.parquet"))

    def reset(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def run_pass(self, tr) -> dict:
        def job(variables):
            return daily.run_daily_job(self.spark, self.sf_dir, self.out, variables, self.days)

        crash = job(self.variables[: len(self.variables) // 2])
        resume = job(self.variables)
        again = job(self.variables)
        out_rows = sum(r["n_rows"] for r in again["lineage"].values())
        size, files = _du(self.out)
        self.summary = again
        ran = len(crash["ran"]) + len(resume["ran"])
        return {
            "rows_in": self.n_events * ran,
            "checksum": {
                "ran": (len(crash["ran"]), len(resume["ran"]), len(again["ran"])),
                "skipped": (len(crash["skipped"]), len(resume["skipped"]), len(again["skipped"])),
                "out_rows": out_rows,
            },
            "out_rows": out_rows,
            "out_bytes": size,
            "out_files": files,
        }

    def build_reference(self) -> dict:
        parts = len(self.variables) * len(self.days)
        half = len(self.variables) // 2 * len(self.days)
        return {
            "ran": (half, parts - half, 0),
            "skipped": (0, half, parts),
            "out_rows": parts * daily.N_LON * daily.N_LAT,
        }

    def check_outputs(self) -> list[str]:
        from pyofs_spark.sources.geotiff import read_geotiff
        from pyofs_spark.sources.netcdf3 import read_netcdf3

        bad = []
        rasters = os.path.join(self.out, "rasters")
        for v in self.variables:
            for d in self.days:
                want = oracles.daily_reference(self.events, v, d)
                tif = read_geotiff(os.path.join(rasters, f"{v}_{d}.tif"))["data"]
                if not oracles.close(tif, want, oracles.RASTER_RTOL):
                    bad.append(f"GeoTIFF {v} {d} differs from the numpy reference")
                nc = read_netcdf3(os.path.join(rasters, f"{v}_{d}.nc"))["variables"][v]["data"]
                if not oracles.close(nc, want[::-1], oracles.RASTER_RTOL):
                    bad.append(f"NetCDF {v} {d} differs from the numpy reference")
        row = (
            lineage.read_output(self.spark, self.out)
            .agg(F.count("*").alias("n"), F.countDistinct("part_key", "query_id").alias("keys"))
            .collect()[0]
        )
        want = self.reference()["out_rows"]
        if (row["n"], row["keys"]) != (want, want):
            bad.append(f"daily read_output rows/keys {row['n']}/{row['keys']} != {want}")
        return bad

    @contextlib.contextmanager
    def traced(self, tr):
        """Spans around the eager calls of one partition: the partition
        build and its sinks, plus the parquet write, read-back count and
        manifest commit that run_partitioned makes after each build."""
        self.commit_bytes = []

        def span(fn, name, only_under=None):
            def wrapper(*args, **kwargs):
                if only_under is not None and tr.current() != only_under:
                    return fn(*args, **kwargs)
                with tr.span(name):
                    return fn(*args, **kwargs)

            return wrapper

        def commit(orig):
            def wrapper(manifest, *args, **kwargs):
                with tr.span("lineage.commit"):
                    out = orig(manifest, *args, **kwargs)
                self.commit_bytes.append(manifest.last_commit_bytes)
                return out

            return wrapper

        # the concrete classes behind the public ones (PySpark 4 subclasses them)
        frame = type(self.spark.range(1))
        writer = type(self.spark.range(1).write)
        with patched(
            (daily, "run_partitioned", span(daily.run_partitioned, "lineage.run")),
            (daily, "build_day_raster", span(daily.build_day_raster, "daily.partition")),
            (daily, "export_raster_geotiff", span(daily.export_raster_geotiff, "geotiff.export")),
            (daily, "export_field_netcdf3", span(daily.export_field_netcdf3, "netcdf3.export")),
            (daily, "regrid_nearest_join", span(daily.regrid_nearest_join, "regrid.nearest")),
            (gpkg, "write_gpkg_raster", span(gpkg.write_gpkg_raster, "gpkg.write")),
            (writer, "parquet", span(writer.parquet, "lineage.write", only_under="lineage.run")),
            (frame, "count", span(frame.count, "lineage.readback", only_under="lineage.run")),
            (lineage.Manifest, "commit", commit(lineage.Manifest.commit)),
        ):
            yield

    def layer_metrics(self, tr, ev, n_passes, last) -> dict:
        ran = sum(last["checksum"]["ran"])
        parts = tr.named("daily.partition")
        runs = tr.named("lineage.run")
        skip_runs = {s["id"] for i, s in enumerate(runs) if i % 3}  # resume and re-run
        walls = [row["wall_sec"] for row in self.summary["lineage"].values()]
        jobs = sum(
            st.jobs
            for grp, st in ev.items()
            if grp.split(".")[0] in ("daily", "geotiff", "netcdf3", "gpkg", "regrid", "lineage")
        )
        return {
            "daily.partition_s": harness.median(tr.durations("daily.partition")),
            "daily.jobs_per_partition": jobs / (ran * n_passes),
            "pipeline.plan_s": harness.median([tr.self_time_of(s) for s in parts]),
            "regrid.nearest_s": harness.median(tr.durations("regrid.nearest")),
            "geotiff.export_s": tr.total("geotiff.export") / n_passes,
            "netcdf3.export_s": tr.total("netcdf3.export") / n_passes,
            "gpkg.write_s": tr.total("gpkg.write") / n_passes,
            "lineage.partition_s": harness.median(walls),
            "lineage.write_s": tr.total("lineage.write") / n_passes,
            "lineage.readback_s": tr.total("lineage.readback") / n_passes,
            "lineage.commit_s": tr.total("lineage.commit") / n_passes,
            "lineage.commit_bytes": harness.median(self.commit_bytes),
            "lineage.resume_skip_s": sum(tr.self_time_of(s) for s in runs if s["id"] in skip_runs) / n_passes,
            "sinks.bytes_per_row": last["out_bytes"] / last["out_rows"],
            "sinks.files": last["out_files"],
        }


def ev_get(ev: dict, group: str, field: str) -> float:
    st = ev.get(group)
    return getattr(st, field) if st is not None else 0.0


WORKLOADS = {w.name: w for w in (TileAssign, SpatialJoin, DailyEtl)}
# the workloads BENCHMARK.json declares and `--workload all` runs;
# spatial_join stays runnable by name and as an off-path probe of traced runs
BENCHMARKED = ("tile_assign", "daily_etl")
