"""Structured-Streaming daily micro-batch analog of the reference's
batch-incremental cadence (SURVEY §2.10).

The reference runs once a day, skips already-produced outputs
(write_daily_average.py:289-349) and handles late observation data with
fixed NRT delays (viirs.py:42,501-505 — data for day D arrives up to ~2h
late). The streaming translation:

- source: a file/rate stream of page/field rows with event-time `warc_ts`
- watermark: `withWatermark('warc_ts', <delay>)` ≙ the NRT delay offsets
- tumbling 1-day window aggregation ≙ the daily resample (A4)
- sink: append mode per closed window — each finalized day is an idempotent
  partition write, same lineage semantics as lineage.py.

`daily_tile_counts_stream` builds the streaming DataFrame; tests drive it
with the in-memory format + processAllAvailable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.pipeline import assign_cells, geocode_pages


def daily_tile_counts_stream(
    pages_stream: DataFrame,
    res: int = 6,
    watermark_delay: str = "2 hours",
    key_col: str = "page_id",
) -> DataFrame:
    """Streaming: pages → geocode → cell → per (1-day window, cell) counts.

    Late rows beyond the watermark are dropped exactly like the reference
    ignores granules older than its NRT horizon. Geocode and cell follow
    the batch pipeline (plans.pipeline): a NULL key counts under a NULL
    cell_id, and a string key (url) is hashed first."""
    g = assign_cells(geocode_pages(pages_stream, key_col), res)
    return (
        g.withWatermark("warc_ts", watermark_delay)
        .groupBy(F.window("warc_ts", "1 day").alias("day_window"), F.col("cell_id"))
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("day_window.start").alias("day_start"),
            "cell_id",
            "n_pages",
        )
    )
