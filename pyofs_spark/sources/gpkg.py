"""Real GeoPackage (OGC GPKG 1.2) vector writer via stdlib sqlite3
(round 3 — upgrades the K2/K5 vector sinks from parquet stand-ins to the
actual format the reference emits, ref: PyOFS/model/wcofs.py:713-835
per-cell point layers, main/tracking/particle_contour.py:1351-1395 contour
polygon layers, utilities.py:91-170 layer write helper).

A GeoPackage is a SQLite database with mandated metadata tables
(gpkg_spatial_ref_sys, gpkg_contents, gpkg_geometry_columns), the GPKG
application_id, and features stored as GeoPackageBinary blobs (GP header +
standard WKB). All of that is emitted here with stdlib sqlite3 + struct —
no fiona/GDAL needed; any OGC reader opens these files.

Layers are dimension-sized by contract (station points, contour polygons —
same as the reference), so the write is a driver-side collect; a
petabyte-scale vector OUTPUT would go to a partitioned parquet/Iceberg
table instead.
"""

from __future__ import annotations

import sqlite3
import struct

from pyspark.sql import DataFrame

_GPKG_APP_ID = 0x47504B47  # "GPKG"
_WGS84_WKT = (
    'GEOGCS["WGS 84",DATUM["WGS_1984",SPHEROID["WGS 84",6378137,'
    '298.257223563]],PRIMEM["Greenwich",0],UNIT["degree",0.0174532925199433]]'
)


def _quoted(name: str) -> str:
    """`name` as an SQLite identifier: in double quotes, each `"` doubled."""
    return '"' + name.replace('"', '""') + '"'


def _gp_header(srs_id: int = 4326) -> bytes:
    # magic GP, version 0, flags 0b00000001 (little-endian, no envelope)
    return b"GP" + bytes([0, 0x01]) + struct.pack("<i", srs_id)


def wkb_point(lon: float, lat: float) -> bytes:
    return struct.pack("<BIdd", 1, 1, lon, lat)


def wkb_polygon(rings: list[list[tuple[float, float]]]) -> bytes:
    out = [struct.pack("<BII", 1, 3, len(rings))]
    for ring in rings:
        pts = list(ring)
        if pts[0] != pts[-1]:
            pts.append(pts[0])  # WKB rings are explicitly closed
        out.append(struct.pack("<I", len(pts)))
        out.extend(struct.pack("<dd", x, y) for x, y in pts)
    return b"".join(out)


def _init_gpkg(con: sqlite3.Connection) -> None:
    con.execute(f"PRAGMA application_id = {_GPKG_APP_ID}")
    con.execute("PRAGMA user_version = 10200")  # GPKG 1.2
    con.execute(
        """CREATE TABLE IF NOT EXISTS gpkg_spatial_ref_sys (
           srs_name TEXT NOT NULL, srs_id INTEGER PRIMARY KEY,
           organization TEXT NOT NULL, organization_coordsys_id INTEGER NOT NULL,
           definition TEXT NOT NULL, description TEXT)"""
    )
    con.executemany(
        "INSERT OR IGNORE INTO gpkg_spatial_ref_sys VALUES (?,?,?,?,?,?)",
        [
            ("Undefined cartesian", -1, "NONE", -1, "undefined", None),
            ("Undefined geographic", 0, "NONE", 0, "undefined", None),
            ("WGS 84", 4326, "EPSG", 4326, _WGS84_WKT, None),
        ],
    )
    con.execute(
        """CREATE TABLE IF NOT EXISTS gpkg_contents (
           table_name TEXT NOT NULL PRIMARY KEY, data_type TEXT NOT NULL,
           identifier TEXT UNIQUE, description TEXT DEFAULT '',
           last_change DATETIME DEFAULT (strftime('%Y-%m-%dT%H:%M:%fZ','now')),
           min_x DOUBLE, min_y DOUBLE, max_x DOUBLE, max_y DOUBLE,
           srs_id INTEGER)"""
    )
    con.execute(
        """CREATE TABLE IF NOT EXISTS gpkg_geometry_columns (
           table_name TEXT NOT NULL PRIMARY KEY, column_name TEXT NOT NULL,
           geometry_type_name TEXT NOT NULL, srs_id INTEGER NOT NULL,
           z TINYINT NOT NULL, m TINYINT NOT NULL)"""
    )


_SQL_TYPES = {"bigint": "INTEGER", "int": "INTEGER", "double": "REAL",
              "float": "REAL", "string": "TEXT", "boolean": "INTEGER",
              "date": "TEXT", "timestamp": "TEXT"}


def write_gpkg_points(
    points: DataFrame,
    path: str,
    layer: str,
    lon: str = "lon",
    lat: str = "lat",
) -> int:
    """Write a point DataFrame as a real GPKG feature layer; every column
    except lon/lat becomes a feature property. Returns feature count."""
    rows = points.collect()  # dimension-sized layer by contract
    props = [
        (f.name, _SQL_TYPES.get(f.dataType.simpleString(), "TEXT"))
        for f in points.schema.fields
        if f.name not in (lon, lat)
    ]
    con = sqlite3.connect(path)
    try:
        _init_gpkg(con)
        cols = ", ".join(f"{_quoted(n)} {t}" for n, t in props)
        con.execute(
            f"CREATE TABLE {_quoted(layer)} (fid INTEGER PRIMARY KEY AUTOINCREMENT, "
            f"geom BLOB{', ' + cols if cols else ''})"
        )
        xs = [float(r[lon]) for r in rows]
        ys = [float(r[lat]) for r in rows]
        con.execute(
            "INSERT OR REPLACE INTO gpkg_contents "
            "(table_name, data_type, identifier, min_x, min_y, max_x, max_y, srs_id) "
            "VALUES (?,?,?,?,?,?,?,?)",
            (layer, "features", layer,
             min(xs, default=None), min(ys, default=None),
             max(xs, default=None), max(ys, default=None), 4326),
        )
        con.execute(
            "INSERT OR REPLACE INTO gpkg_geometry_columns VALUES (?,?,?,?,0,0)",
            (layer, "geom", "POINT", 4326),
        )
        hdr = _gp_header()
        ph = ", ".join("?" for _ in props)
        stmt = (
            f"INSERT INTO {_quoted(layer)} (geom{''.join(', ' + _quoted(n) for n, _ in props)})"
            f" VALUES (?{', ' + ph if props else ''})"
        )
        con.executemany(
            stmt,
            [
                (hdr + wkb_point(float(r[lon]), float(r[lat])),)
                + tuple(r[n] for n, _ in props)
                for r in rows
            ],
        )
        con.commit()
        return len(rows)
    finally:
        con.close()


def write_gpkg_polygons(
    contours: DataFrame,
    path: str,
    layer: str,
    id_col: str = "contour_id",
    step_col: str = "step",
    x: str = "x",
    y: str = "y",
    order_col: str = "vertex_idx",
    props: DataFrame | None = None,
) -> int:
    """Write a vertex trajectory table as one polygon feature per
    (contour, step) — the reference's contour output layer shape
    (particle_contour.py:1351-1395: polygon + datetime/area/perimeter
    properties). `props` (optional): per-(contour, step) property rows,
    e.g. contour_metrics output."""
    rows = contours.orderBy(id_col, step_col, order_col).collect()
    groups: dict[tuple, list[tuple[float, float]]] = {}
    for r in rows:
        groups.setdefault((r[id_col], r[step_col]), []).append(
            (float(r[x]), float(r[y]))
        )
    prop_map: dict[tuple, tuple] = {}
    prop_cols: list[tuple[str, str]] = []
    if props is not None:
        prop_cols = [
            (f.name, _SQL_TYPES.get(f.dataType.simpleString(), "TEXT"))
            for f in props.schema.fields
            if f.name not in (id_col, step_col)
        ]
        for r in props.collect():
            prop_map[(r[id_col], r[step_col])] = tuple(r[n] for n, _ in prop_cols)
    con = sqlite3.connect(path)
    try:
        _init_gpkg(con)
        cols = "".join(f", {_quoted(n)} {t}" for n, t in prop_cols)
        con.execute(
            f"CREATE TABLE {_quoted(layer)} (fid INTEGER PRIMARY KEY AUTOINCREMENT, "
            f"geom BLOB, {_quoted(id_col)} REAL, {_quoted(step_col)} INTEGER{cols})"
        )
        con.execute(
            "INSERT OR REPLACE INTO gpkg_contents "
            "(table_name, data_type, identifier, srs_id) VALUES (?,?,?,?)",
            (layer, "features", layer, 4326),
        )
        con.execute(
            "INSERT OR REPLACE INTO gpkg_geometry_columns VALUES (?,?,?,?,0,0)",
            (layer, "geom", "POLYGON", 4326),
        )
        hdr = _gp_header()
        ph = "".join(", ?" for _ in prop_cols)
        for (cid, step), verts in sorted(groups.items()):
            con.execute(
                f"INSERT INTO {_quoted(layer)} (geom, {_quoted(id_col)}, {_quoted(step_col)}"
                f"{''.join(', ' + _quoted(n) for n, _ in prop_cols)}) "
                f"VALUES (?, ?, ?{ph})",
                (hdr + wkb_polygon([verts]), float(cid), int(step))
                + prop_map.get((cid, step), tuple(None for _ in prop_cols)),
            )
        con.commit()
        return len(groups)
    finally:
        con.close()


def read_gpkg_layer(path: str, layer: str) -> list[dict]:
    """Read a feature layer back (verification path): parses the GP header
    + WKB point/polygon geometries with stdlib struct."""
    con = sqlite3.connect(path)
    try:
        cols = [r[1] for r in con.execute(f"PRAGMA table_info({_quoted(layer)})")]
        out = []
        for row in con.execute(f"SELECT * FROM {_quoted(layer)}"):
            rec = dict(zip(cols, row))
            blob = rec.pop("geom")
            if not blob or blob[:2] != b"GP":
                raise ValueError(f"{layer}: geometry is not a GeoPackage blob")
            flags = blob[3]
            env_len = {0: 0, 1: 32, 2: 48, 3: 48, 4: 64}[(flags >> 1) & 0x7]
            wkb = blob[8 + env_len :]
            (geom_type,) = struct.unpack_from("<I", wkb, 1)
            if geom_type == 1:
                rec["geometry"] = struct.unpack_from("<dd", wkb, 5)
            elif geom_type == 3:
                (n_rings,) = struct.unpack_from("<I", wkb, 5)
                off, rings = 9, []
                for _ in range(n_rings):
                    (n_pts,) = struct.unpack_from("<I", wkb, off)
                    off += 4
                    ring = [
                        struct.unpack_from("<dd", wkb, off + 16 * i)
                        for i in range(n_pts)
                    ]
                    off += 16 * n_pts
                    rings.append(ring)
                rec["geometry"] = rings
            out.append(rec)
        return out
    except sqlite3.DatabaseError as e:
        raise ValueError(f"{path}: layer {layer!r}: {e}") from e
    finally:
        con.close()


# ---------------------------------------------------------------------------
# K3 (round 4): raster subdataset inside a GeoPackage — the OGC
# "2D Gridded Coverage" extension (the container the reference appends
# raster layers into, ref: utilities.py:91-170 write-to-GPKG path).
# Tiles are float32 GeoTIFF blobs in a tile-pyramid table plus the two
# mandated ancillary tables; tiling is zoom 0 with `tile_size`-square
# tiles, so a large raster shards into many blobs (row/col addressable —
# the scale path for readers that window into the coverage).
# ---------------------------------------------------------------------------


def _init_gpkg_raster_meta(con: sqlite3.Connection) -> None:
    con.execute(
        """CREATE TABLE IF NOT EXISTS gpkg_extensions (
           table_name TEXT, column_name TEXT, extension_name TEXT NOT NULL,
           definition TEXT NOT NULL, scope TEXT NOT NULL)"""
    )
    con.execute(
        """CREATE TABLE IF NOT EXISTS gpkg_tile_matrix_set (
           table_name TEXT NOT NULL PRIMARY KEY, srs_id INTEGER NOT NULL,
           min_x DOUBLE NOT NULL, min_y DOUBLE NOT NULL,
           max_x DOUBLE NOT NULL, max_y DOUBLE NOT NULL)"""
    )
    con.execute(
        """CREATE TABLE IF NOT EXISTS gpkg_tile_matrix (
           table_name TEXT NOT NULL, zoom_level INTEGER NOT NULL,
           matrix_width INTEGER NOT NULL, matrix_height INTEGER NOT NULL,
           tile_width INTEGER NOT NULL, tile_height INTEGER NOT NULL,
           pixel_x_size DOUBLE NOT NULL, pixel_y_size DOUBLE NOT NULL,
           PRIMARY KEY (table_name, zoom_level))"""
    )
    con.execute(
        """CREATE TABLE IF NOT EXISTS gpkg_2d_gridded_coverage_ancillary (
           id INTEGER PRIMARY KEY AUTOINCREMENT,
           tile_matrix_set_name TEXT NOT NULL UNIQUE,
           datatype TEXT NOT NULL DEFAULT 'integer',
           scale REAL NOT NULL DEFAULT 1.0, offset REAL NOT NULL DEFAULT 0.0,
           precision REAL DEFAULT 1.0, data_null REAL,
           grid_cell_encoding TEXT DEFAULT 'grid-value-is-center',
           uom TEXT, field_name TEXT DEFAULT 'Height',
           quantity_definition TEXT DEFAULT 'Height')"""
    )
    con.execute(
        """CREATE TABLE IF NOT EXISTS gpkg_2d_gridded_tile_ancillary (
           id INTEGER PRIMARY KEY AUTOINCREMENT, tpudt_name TEXT NOT NULL,
           tpudt_id INTEGER NOT NULL, scale REAL NOT NULL DEFAULT 1.0,
           offset REAL NOT NULL DEFAULT 0.0, min REAL, max REAL,
           mean REAL, std_dev REAL, UNIQUE (tpudt_name, tpudt_id))"""
    )


def write_gpkg_raster(
    path: str,
    layer: str,
    data,
    west: float,
    north: float,
    dx: float,
    dy: float,
    nodata: float = -9999.0,
    field_name: str = "value",
    tile_size: int = 256,
) -> int:
    """Append one north-up float32 raster as a 2D-gridded-coverage layer
    (tiled float-TIFF blobs). `data`: (h, w) array, row 0 = northmost.
    Appending beside existing vector layers in the same .gpkg file is the
    reference's raster-subdataset-in-GPKG behavior. Returns tile count."""
    import numpy as np

    from .geotiff import geotiff_bytes

    a = np.ascontiguousarray(data, dtype=np.float32)
    h, w = a.shape
    mw = (w + tile_size - 1) // tile_size
    mh = (h + tile_size - 1) // tile_size
    con = sqlite3.connect(path)
    try:
        _init_gpkg(con)
        _init_gpkg_raster_meta(con)
        # idempotent overwrite of the layer (resume/crash re-run semantics
        # of run_partitioned: re-writing a partition must not fail)
        con.execute(f"DROP TABLE IF EXISTS {_quoted(layer)}")
        con.execute(
            "DELETE FROM gpkg_extensions WHERE table_name = ?", (layer,)
        )
        con.execute(
            "DELETE FROM gpkg_2d_gridded_tile_ancillary WHERE tpudt_name = ?",
            (layer,),
        )
        con.execute(
            f"CREATE TABLE {_quoted(layer)} (id INTEGER PRIMARY KEY AUTOINCREMENT, "
            "zoom_level INTEGER NOT NULL, tile_column INTEGER NOT NULL, "
            "tile_row INTEGER NOT NULL, tile_data BLOB NOT NULL, "
            "UNIQUE (zoom_level, tile_column, tile_row))"
        )
        south, east = north - h * dy, west + w * dx
        con.execute(
            "INSERT OR REPLACE INTO gpkg_contents "
            "(table_name, data_type, identifier, min_x, min_y, max_x, max_y,"
            " srs_id) VALUES (?,?,?,?,?,?,?,?)",
            (layer, "2d-gridded-coverage", layer, west, south, east, north,
             4326),
        )
        # The tile-matrix-set extent must cover the PADDED tile grid
        # (matrix_width*tile_width*pixel_x_size exactly — GPKG tiles req.;
        # ADVICE r4: strict readers like GDAL reject a TMS extent smaller
        # than the tile lattice). True data extent stays in gpkg_contents.
        south_pad = north - mh * tile_size * dy
        east_pad = west + mw * tile_size * dx
        con.execute(
            "INSERT OR REPLACE INTO gpkg_tile_matrix_set VALUES (?,?,?,?,?,?)",
            (layer, 4326, west, south_pad, east_pad, north),
        )
        con.execute(
            "INSERT OR REPLACE INTO gpkg_tile_matrix VALUES (?,0,?,?,?,?,?,?)",
            (layer, mw, mh, tile_size, tile_size, dx, dy),
        )
        for ext in (
            "gpkg_2d_gridded_coverage_ancillary",
            "gpkg_2d_gridded_tile_ancillary",
            layer,
        ):
            exists = con.execute(
                "SELECT 1 FROM gpkg_extensions WHERE table_name = ?", (ext,)
            ).fetchone()
            if not exists:
                con.execute(
                    "INSERT INTO gpkg_extensions VALUES (?,?,?,?,?)",
                    (ext, "tile_data" if ext == layer else None,
                     "gpkg_2d_gridded_coverage",
                     "http://docs.opengeospatial.org/is/17-066r1/17-066r1.html",
                     "read-write"),
                )
        con.execute(
            "INSERT OR REPLACE INTO gpkg_2d_gridded_coverage_ancillary "
            "(tile_matrix_set_name, datatype, data_null, field_name,"
            " quantity_definition) VALUES (?,?,?,?,?)",
            (layer, "float", float(nodata), field_name, field_name),
        )
        n_tiles = 0
        for tr in range(mh):
            for tc in range(mw):
                block = np.full((tile_size, tile_size), nodata, np.float32)
                sub = a[
                    tr * tile_size : (tr + 1) * tile_size,
                    tc * tile_size : (tc + 1) * tile_size,
                ]
                block[: sub.shape[0], : sub.shape[1]] = sub
                blob = geotiff_bytes(
                    block,
                    west + tc * tile_size * dx,
                    north - tr * tile_size * dy,
                    dx, dy, nodata=nodata,
                )
                cur = con.execute(
                    f"INSERT INTO {_quoted(layer)} (zoom_level, tile_column,"
                    " tile_row, tile_data) VALUES (0, ?, ?, ?)",
                    (tc, tr, blob),
                )
                valid = sub[sub != np.float32(nodata)]
                con.execute(
                    "INSERT INTO gpkg_2d_gridded_tile_ancillary "
                    "(tpudt_name, tpudt_id, min, max, mean, std_dev) "
                    "VALUES (?,?,?,?,?,?)",
                    (layer, cur.lastrowid,
                     float(valid.min()) if valid.size else None,
                     float(valid.max()) if valid.size else None,
                     float(valid.mean()) if valid.size else None,
                     float(valid.std()) if valid.size else None),
                )
                n_tiles += 1
        con.commit()
        return n_tiles
    finally:
        con.close()


def read_gpkg_raster(path: str, layer: str) -> dict:
    """Reassemble a 2D-gridded-coverage layer → {data (north-up, trimmed
    to the coverage extent), west, north, dx, dy, nodata}. The true data
    extent comes from gpkg_contents; gpkg_tile_matrix_set carries the
    padded tile-grid extent per the GPKG tiles requirement."""
    import numpy as np

    from .geotiff import read_geotiff_bytes

    con = sqlite3.connect(path)
    try:
        def one(sql: str) -> tuple:
            row = con.execute(sql, (layer,)).fetchone()
            if row is None:
                raise ValueError(f"{path}: no coverage layer {layer!r}")
            return row

        (mw, mh, tw, th, dx, dy) = one(
            "SELECT matrix_width, matrix_height, tile_width, tile_height,"
            " pixel_x_size, pixel_y_size FROM gpkg_tile_matrix"
            " WHERE table_name = ? AND zoom_level = 0"
        )
        (west, south, east, north) = one(
            "SELECT min_x, min_y, max_x, max_y FROM gpkg_contents"
            " WHERE table_name = ?"
        )
        (nodata,) = one(
            "SELECT data_null FROM gpkg_2d_gridded_coverage_ancillary"
            " WHERE tile_matrix_set_name = ?"
        )
        full = np.full((mh * th, mw * tw), nodata, np.float32)
        for tc, tr, blob in con.execute(
            f"SELECT tile_column, tile_row, tile_data FROM {_quoted(layer)}"
            " WHERE zoom_level = 0"
        ):
            t = read_geotiff_bytes(bytes(blob))
            full[tr * th : (tr + 1) * th, tc * tw : (tc + 1) * tw] = t["data"]
        h = int(round((north - south) / dy))
        w = int(round((east - west) / dx))
        return {
            "data": full[:h, :w], "west": west, "north": north,
            "dx": dx, "dy": dy, "nodata": nodata,
        }
    except sqlite3.DatabaseError as e:
        raise ValueError(f"{path}: layer {layer!r}: {e}") from e
    finally:
        con.close()
