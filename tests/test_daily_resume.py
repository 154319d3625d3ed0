"""Daily raster job under failure and changed inputs: a crash between any
two steps of a partition re-runs exactly that partition on re-invocation,
readers never see the orphan, a rewritten events file invalidates the
committed partitions, index.json lists only committed partitions, and a
day without events commits an all-nodata raster. Also the job budget of
one day raster (only the field scan and aggregate run on executors), and
the size choice of the lattice stage (on the driver when it is small,
bit-identical either way)."""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from conftest import SF_DIR

VARIABLES, DAYS = ("sst", "ssh"), ("2024-01-02",)
KEYS = ["sst__2024-01-02", "ssh__2024-01-02"]


def _rows(spark, out):
    from pyofs_spark.lineage import read_output

    return sorted(tuple(r) for r in read_output(spark, out).collect())


@pytest.fixture(scope="module")
def clean(spark, tmp_path_factory):
    """Rows and index of one uninterrupted run."""
    from pyofs_spark.jobs.daily import run_daily_job

    out = str(tmp_path_factory.mktemp("clean"))
    s = run_daily_job(spark, SF_DIR, out, VARIABLES, DAYS)
    assert sorted(s["ran"]) == sorted(KEYS)
    return _rows(spark, out), json.load(open(s["index_json"]))


def _crash_after_sinks(monkeypatch):
    """The ssh build raises after its last sink file is written, before
    run_partitioned's lineage write."""
    from pyofs_spark.jobs import daily

    real = daily.export_field_netcdf3

    def export(grid, path, *args, **kwargs):
        real(grid, path, *args, **kwargs)
        if os.path.basename(path).startswith("ssh_"):
            raise RuntimeError("crash after sinks")

    monkeypatch.setattr(daily, "export_field_netcdf3", export)


def _crash_in_commit(monkeypatch):
    """The ssh manifest commit raises after its parquet write."""
    from pyofs_spark import lineage

    real = lineage.Manifest.commit

    def commit(self, part_key, *args, **kwargs):
        if part_key.startswith("ssh__"):
            raise RuntimeError("crash in commit")
        return real(self, part_key, *args, **kwargs)

    monkeypatch.setattr(lineage.Manifest, "commit", commit)


@pytest.mark.parametrize("inject", [_crash_after_sinks, _crash_in_commit])
def test_crash_reruns_exactly_that_partition(spark, tmp_path, clean, inject):
    from pyofs_spark.jobs.daily import run_daily_job
    from pyofs_spark.lineage import read_output

    out = str(tmp_path / "out")
    with pytest.MonkeyPatch.context() as mp:
        inject(mp)
        with pytest.raises(RuntimeError, match="crash"):
            run_daily_job(spark, SF_DIR, out, VARIABLES, DAYS)
    # readers see only the committed partition, whatever is on disk
    keys = {r.part_key for r in read_output(spark, out).select("part_key").collect()}
    assert keys == {"sst__2024-01-02"}

    again = run_daily_job(spark, SF_DIR, out, VARIABLES, DAYS)
    assert again["ran"] == ["ssh__2024-01-02"]
    assert again["skipped"] == ["sst__2024-01-02"]
    rows, index = clean
    assert _rows(spark, out) == rows
    assert json.load(open(again["index_json"])) == index


def test_index_lists_only_committed_partitions(spark, tmp_path):
    """A part_key= directory that no commit made visible (a crash between
    parquet write and manifest commit) stays out of index.json."""
    from pyofs_spark.jobs.daily import N_LAT, N_LON, run_daily_job

    out = str(tmp_path / "out")
    orphan = os.path.join(out, "part_key=ssh__2024-01-02")
    os.makedirs(orphan)
    pq.write_table(
        pq.read_table(os.path.join(SF_DIR, "events.parquet")).slice(0, 5),
        os.path.join(orphan, "part-00000.parquet"),
    )
    s = run_daily_job(spark, SF_DIR, out, ("sst",), DAYS)
    assert json.load(open(s["index_json"])) == {
        "part_key=sst__2024-01-02": {"n_rows": N_LON * N_LAT}
    }


def test_rewritten_events_invalidate_committed_partitions(spark, tmp_path):
    from pyofs_spark.jobs.daily import run_daily_job
    from pyofs_spark.sources.geotiff import read_geotiff

    sf = str(tmp_path / "sf")
    os.makedirs(sf)
    events = os.path.join(sf, "events.parquet")
    shutil.copyfile(os.path.join(SF_DIR, "events.parquet"), events)
    out = str(tmp_path / "out")
    tif = os.path.join(out, "rasters", "sst_2024-01-02.tif")

    first = run_daily_job(spark, sf, out, VARIABLES, DAYS)
    assert sorted(first["ran"]) == sorted(KEYS)
    before = read_geotiff(tif)["data"]

    unchanged = run_daily_job(spark, sf, out, VARIABLES, DAYS)
    assert unchanged["ran"] == [] and sorted(unchanged["skipped"]) == sorted(KEYS)

    # a corrected day of input: same path, new content
    table = pq.read_table(events)
    i = table.schema.get_field_index("value")
    pq.write_table(table.set_column(i, "value", pc.multiply(table["value"], 2.0)), events)
    corrected = run_daily_job(spark, sf, out, VARIABLES, DAYS)
    assert sorted(corrected["ran"]) == sorted(KEYS) and corrected["skipped"] == []
    after = read_geotiff(tif)["data"]
    assert (after != before).any()


def _jobs(spark, group, fn):
    """fn's result and the number of Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_day_raster_job_budget(spark, tmp_path):
    """One day partition costs at most two Spark jobs: the shuffle of the
    field aggregate and the collect that sizes and fetches the scatter
    points. The events scan declares its schema (no inference job), the
    lattice stage runs on the driver, and the lineage payload is written
    by pyarrow."""
    from pyofs_spark.jobs.daily import run_daily_job

    s, jobs = _jobs(spark, "daily-budget", lambda: run_daily_job(
        spark, SF_DIR, str(tmp_path / "out"), ("sst",), DAYS
    ))
    assert s["ran"] == ["sst__2024-01-02"]
    assert jobs <= 2


def _field(spark):
    """A driver-side scatter field: one NaN and one NULL value (both
    dropped) and a NaN `extra`, which rides a kept point's neighbour."""
    from pyofs_spark.jobs.daily import LAT0, LON0

    rng = np.random.default_rng(5)
    n = 60
    k = rng.choice(40 * 30, n, replace=False)
    i, j = k % 40, k // 40
    value = rng.gamma(2.0, 30.0, n)
    value[3] = np.nan
    extra = rng.uniform(0, 1, n)
    extra[::7] = np.nan
    return spark.createDataFrame(pa.table({
        "point_id": pa.array(k, pa.int64()),
        "lon": LON0 + i * 0.25,
        "lat": LAT0 + j * 0.25,
        "value": pa.array(np.where(np.arange(n) == 4, None, value).tolist(), pa.float64()),
        "extra": extra,
    }))


def _bits(table):
    """Schema plus, per column, its validity and values (floats by bit
    pattern, so NaN compares equal to itself and -0.0 differs from 0.0)."""
    cols = {}
    for name in table.column_names:
        col = table[name].combine_chunks()
        vals = col.to_pylist()
        if pa.types.is_floating(col.type):
            vals = np.asarray(col.fill_null(0.0)).view(np.int64).tolist()
        cols[name] = (col.is_valid().to_pylist(), vals)
    return table.schema, cols


def test_day_lattice_runs_on_the_driver(spark, monkeypatch):
    """A day lattice optimizes to a LocalRelation and, with a driver-side
    field, regrid_to_lattice starts no Spark job at all."""
    from pyofs_spark.jobs import daily

    plans = []
    collect = daily._collect_arrow

    def spy(df):
        plans.append(df._jdf.queryExecution().optimizedPlan().nodeName())
        return collect(df)

    monkeypatch.setattr(daily, "_collect_arrow", spy)
    cells, jobs = _jobs(spark, "day-lattice", lambda: daily.regrid_to_lattice(spark, _field(spark)))
    assert plans == ["LocalRelation"]
    assert jobs == 0
    assert cells.num_rows == daily.N_LON * daily.N_LAT


def test_lattice_size_choice_is_bit_identical(spark, monkeypatch):
    """Both sides of the lattice size choice return the same Arrow table,
    bit for bit, including the NaN cells that reach the plan as
    CAST('nan' AS double) literals."""
    from pyofs_spark.jobs import daily

    src = _field(spark)
    on_driver = daily.regrid_to_lattice(spark, src, values=("value", "extra"))
    monkeypatch.setattr(daily, "LOCAL_LATTICE_CELLS", 100)
    monkeypatch.setattr(daily, "LATTICE_CELLS_PER_TASK", 100)
    on_executors, jobs = _jobs(
        spark, "lattice-spark", lambda: daily.regrid_to_lattice(spark, src, values=("value", "extra"))
    )
    assert jobs >= 1
    assert _bits(on_driver) == _bits(on_executors)
    assert pc.sum(pc.is_nan(on_driver["extra"])).as_py() > 0
    assert not pc.any(pc.is_nan(on_driver["value"])).as_py()


def test_day_without_events_commits_all_nodata(spark, tmp_path):
    """A day outside the events' range has an empty field: the partition
    still commits every lattice row, and the GeoTIFF is all nodata."""
    from pyofs_spark.jobs.daily import N_LAT, N_LON, run_daily_job
    from pyofs_spark.sources.geotiff import read_geotiff

    out = str(tmp_path / "out")
    s = run_daily_job(spark, SF_DIR, out, ("sst",), ("2099-01-01",))
    assert s["ran"] == ["sst__2099-01-01"]
    assert s["lineage"]["sst__2099-01-01"]["n_rows"] == N_LON * N_LAT
    tif = read_geotiff(os.path.join(out, "rasters", "sst_2099-01-01.tif"))
    assert tif["data"].shape == (N_LAT, N_LON)
    assert (tif["data"] == tif["nodata"]).all()

