"""The byte-level readers behind the Spark scan sources read files from
outside the program: malformed input raises ValueError (not an
AssertionError, a KeyError or a silently wrong array)."""

from __future__ import annotations

import sqlite3
import struct

import numpy as np
import pytest

from pyofs_spark.sources.geotiff import (
    geotiff_bytes, read_aaigrid_bytes, read_geotiff_bytes,
)
from pyofs_spark.sources.gpkg import read_gpkg_layer, read_gpkg_raster


def _patch_tag(buf: bytes, tag: int, count: int, value: int) -> bytes:
    """Rewrite one IFD entry's count and value field in place."""
    (off_ifd,) = struct.unpack_from("<I", buf, 4)
    (n,) = struct.unpack_from("<H", buf, off_ifd)
    out = bytearray(buf)
    for k in range(n):
        at = off_ifd + 2 + 12 * k
        t, typ, _, _ = struct.unpack_from("<HHII", buf, at)
        if t == tag:
            struct.pack_into("<HHII", out, at, t, typ, count, value)
            return bytes(out)
    raise KeyError(tag)


def _tiff_2x3() -> bytes:
    a = np.arange(6, dtype=np.float32).reshape(2, 3)
    return geotiff_bytes(a, west=0.0, north=2.0, dx=1.0, dy=1.0)


def test_geotiff_reader_reads_what_the_writer_writes():
    got = read_geotiff_bytes(_tiff_2x3())["data"]
    np.testing.assert_array_equal(got, np.arange(6).reshape(2, 3))


@pytest.mark.parametrize(
    "tag, count, value",
    [
        (258, 1, 64),         # BitsPerSample 64
        (277, 1, 2),          # SamplesPerPixel 2
        (279, 1, 6 * 4 - 4),  # strip one cell short
        (279, 1, 6 * 4 + 4),  # strip one cell long
        (279, 2, 0),          # two strip counts for one offset
        (273, 1, 10_000),     # strip past the end of the buffer
    ],
)
def test_geotiff_reader_checks_its_header(tag, count, value):
    with pytest.raises(ValueError):
        read_geotiff_bytes(_patch_tag(_tiff_2x3(), tag, count, value))


def test_aaigrid_reader_rejects_malformed_text():
    good = (
        "ncols 2\nnrows 2\nxllcorner 0.0\nyllcorner 0.0\ncellsize 1.0\n"
        "NODATA_value -9999.0\n1.0 2.0\n3.0 4.0\n"
    )
    assert read_aaigrid_bytes(good.encode())["data"].shape == (2, 2)
    short = good.rsplit("3.0 4.0\n", 1)[0]
    ragged = good.replace("3.0 4.0", "3.0")
    no_cellsize = good.replace("cellsize 1.0\n", "")
    for text in (short, ragged, no_cellsize):
        with pytest.raises(ValueError):
            read_aaigrid_bytes(text)


def test_gpkg_layer_reader_rejects_a_non_gpkg_geometry(tmp_path):
    db = str(tmp_path / "bad.gpkg")
    with sqlite3.connect(db) as con:
        con.execute('CREATE TABLE "pts" (fid INTEGER PRIMARY KEY, geom BLOB)')
        con.execute(
            'INSERT INTO "pts" VALUES (1, ?)',
            (struct.pack("<BIdd", 1, 1, 0.0, 0.0),),  # bare WKB, no GP header
        )
    con.close()
    with pytest.raises(ValueError):
        read_gpkg_layer(db, "pts")


def test_gpkg_readers_raise_value_error_for_a_missing_layer_or_file(tmp_path):
    from pyofs_spark.sources.scan import _staged_gpkg

    db = str(tmp_path / "empty.gpkg")
    sqlite3.connect(db).close()
    for read in (read_gpkg_layer, read_gpkg_raster):
        with pytest.raises(ValueError):
            read(db, 'no"such')
    with pytest.raises(ValueError), _staged_gpkg(b"not a database file" * 64, "features", None):
        pass
