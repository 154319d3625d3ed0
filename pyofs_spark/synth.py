"""Deterministic synthetic pages table (Common-Crawl-style, input_hint shape).

Columns: (url:string, warc_ts:timestamp, html:binary, text:string,
lang:string) — BASELINE.json input_hint. Generated entirely with Spark SQL
`range()` + closed-form expressions: seeded, reproducible at any scale, and
distributed (no driver-side materialization), so the same generator serves
sf=1e3 unit tests and 1e8-row bench runs. Coast-biased geocode skew comes
from functions/geocode.py applied to the page key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

LANGS = ["en", "es", "fr", "de", "pt", "zh", "ja", "ru"]

# word pool for deterministic text payloads
_WORDS = (
    "ocean model tide current sea surface temperature salinity forecast "
    "coastal buoy station satellite radar grid cell interpolation raster "
    "vector tile polygon particle contour advection velocity field"
).split()


def _pick_sql(values: list[str], index_sql: str) -> str:
    """SQL picking values[index] (0-based) from a literal string list."""
    arr = ", ".join(f"'{v}'" for v in values)
    return f"element_at(array({arr}), cast({index_sql} + 1 as int))"


def synth_pages(spark: SparkSession, n_rows: int, partitions: int = 32) -> DataFrame:
    """n_rows pages keyed by page_id ∈ [0, n_rows).

    text is a deterministic function of page_id (so byte-identity per url is
    checkable end-to-end); html wraps text; lang cycles a fixed list.

    The table is ONE projection over range(), built from a single SQL select
    list: one parse instead of ~150 py4j calls of Column construction.
    """
    nw = len(_WORDS)
    # deterministic 12-word sentence per page
    text = "concat_ws(' ', {})".format(
        ", ".join(_pick_sql(_WORDS, f"pmod(id * {k * 2 + 1} + {k}, {nw})") for k in range(12))
    )
    return spark.range(0, n_rows, 1, partitions).selectExpr(
        "concat('https://example.org/page/', id) AS url",
        # crawl timestamps spread over 30 days of 2026-01, second granularity
        # from 2026-01-01 00:00:00 UTC (integer epoch arithmetic —
        # make_interval routes through DECIMAL math, ~10x slower per row;
        # timestamp_seconds is a long cast)
        f"timestamp_seconds(1767225600 + pmod(id * 7919, {30 * 86400})) AS warc_ts",
        f"encode(concat('<html><body>', {text}, '</body></html>'), 'utf-8') AS html",
        f"{text} AS text",
        f"{_pick_sql(LANGS, f'pmod(id * 31 + 7, {len(LANGS)})')} AS lang",
        "id AS page_id",
    )
