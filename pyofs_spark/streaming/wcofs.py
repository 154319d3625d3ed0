"""Streaming twin of the composed WCOFS daily ETL (round 5).

The reference's operational loop is a daily cron that polls for new model
granules and converts whatever arrived (write_daily_average.py:620-658).
The streaming translation: watch the granule directory with the NetCDF-3
binaryFile stream, and run the SAME batch composition
(jobs/wcofs_daily.build_wcofs_day stages 2-5: staggered rotation →
dir/mag → 1-NN regrid → GeoTIFF/GPKG publish) per micro-batch via
foreachBatch, keyed by the day each granule carries in its filename.

Why foreachBatch rather than a fully-declarative streaming plan: the
per-day unit ends in FILE sinks (raster publish is the reference's
export step), which is side-effect territory — exactly what foreachBatch
exists for. Exactly-once: the file source's processed log deduplicates
granules across restarts, and the raster publish is idempotent
(deterministic bytes, temp+rename), so replaying a batch after a crash
rewrites identical files. The heavy math inside the batch is the audited
batch plan — one (i, j) shuffle + broadcast grid join per day.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from ..sources.scan import binary_files

_DAY_RE = re.compile(r"_(\d{4}-\d{2}-\d{2})\.nc$")


def wcofs_streaming_etl(
    spark: SparkSession,
    nc_dir: str,
    out_dir: str,
    grid: DataFrame,
    lattice_spec: tuple[float, float, float, int, int],
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
):
    """Start the streaming query: new `wcofs_<day>.nc` granules appearing
    in `nc_dir` are rotated/regridded/published as that day's rasters.
    Returns the StreamingQuery (caller stops it / awaits termination).

    `grid` is the static curvilinear dim table (built once — a dimension
    does not stream); `lattice_spec` = (lat0, lon0, step, n_lon, n_lat)."""
    from ..jobs.wcofs_daily import build_wcofs_day

    lat0, lon0, lstep, n_lon, n_lat = lattice_spec

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        days = sorted(
            {
                m.group(1)
                for (p,) in batch_df.select("path").collect()
                if (m := _DAY_RE.search(p))
            }
        )
        for day in days:
            build_wcofs_day(
                spark, nc_dir, day, grid, out_dir,
                lat0, lon0, lstep, n_lon, n_lat,
            )

    # the stream only carries ARRIVAL events (paths); decode happens in
    # the per-day batch job so each day runs the audited batch plan
    ws = (
        binary_files(spark, nc_dir, "*.nc", stream=True,
                     max_files_per_trigger=max_files_per_trigger)
        .select("path")
        .writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
    )
    # availableNow = drain-and-stop (the reference's cron shape: one
    # catch-up pass per invocation); False = continuous micro-batches
    ws = ws.trigger(availableNow=True) if available_now else ws
    return ws.start()
