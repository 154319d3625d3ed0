"""Pure-stdlib/numpy GeoTIFF writer + reader (round 3 — upgrades the K1
raster sink from a parquet stand-in to the REAL file format the reference
emits, ref: PyOFS/model/wcofs.py:645-711 write_rasters / utilities.py).

Scope: single-band float32 (the reference's raster dtype, wcofs.py:659),
uncompressed, geographic CRS (EPSG:4326), north-up (row 0 = max lat),
nodata tag — exactly the reference's GeoTIFF surface. No GDAL/rasterio in
the container, so the TIFF 6.0 + GeoTIFF 1.1 byte layout is emitted
directly; the reader round-trips it (golden-byte pytest) and any external
GDAL can read these files (standard tags only).

TIFF structure written (little-endian):
  header "II*\\0" → IFD with the baseline raster tags + the three GeoTIFF
  tags: ModelPixelScale(33550), ModelTiepoint(33922),
  GeoKeyDirectory(34735: model=geographic, raster=PixelIsArea,
  GeographicType=4326) + GDAL_NODATA(42113, ASCII).
"""

from __future__ import annotations

import itertools
import struct

import numpy as np

_TIFF_TYPES = {2: ("s", 1), 3: ("H", 2), 4: ("I", 4), 12: ("d", 8)}


def write_geotiff(
    path: str,
    data: np.ndarray,
    west: float,
    north: float,
    dx: float,
    dy: float,
    nodata: float = -9999.0,
) -> None:
    """data: (h, w) float32, row 0 = NORTHMOST row (north-up contract,
    ref wcofs.py:658-659 flips ascending-lat arrays before writing);
    (west, north) = outer corner of pixel (0, 0); dx, dy positive.

    Published atomically (temp-then-rename) so a streaming binaryFile
    source watching the directory never lists a half-written raster."""
    import os as _os

    tmp = path + ".tmp"
    with open(tmp, "wb") as fh:
        fh.write(geotiff_bytes(data, west, north, dx, dy, nodata))
    _os.replace(tmp, path)


def geotiff_bytes(
    data: np.ndarray,
    west: float,
    north: float,
    dx: float,
    dy: float,
    nodata: float = -9999.0,
) -> bytes:
    """Serialize one north-up raster as GeoTIFF bytes (kernel behind
    write_geotiff and the GPKG gridded-coverage tile encoder)."""
    a = np.ascontiguousarray(data, dtype=np.float32)
    if a.ndim != 2:
        raise ValueError("single-band (h, w) raster required")
    h, w = a.shape
    strip = a.tobytes()
    nodata_ascii = (repr(float(nodata)) + "\x00").encode()
    # TIFF inline-value rule: payloads <= 4 bytes must live IN the entry's
    # value field; this writer always emits an offset, so pad short nodata
    # strings ('1.0\0') past 4 bytes with extra NULs (legal for ASCII type)
    while len(nodata_ascii) <= 4:
        nodata_ascii += b"\x00"
    geokeys = np.array(
        [
            1, 1, 0, 3,      # version, rev, minor, n_keys
            1024, 0, 1, 2,   # GTModelType = geographic
            1025, 0, 1, 1,   # GTRasterType = PixelIsArea
            2048, 0, 1, 4326,  # GeographicType = WGS84
        ],
        dtype="<u2",
    ).tobytes()
    scale = struct.pack("<3d", float(dx), float(dy), 0.0)
    tiepoint = struct.pack("<6d", 0.0, 0.0, 0.0, float(west), float(north), 0.0)

    # layout: 8 header | strip | geokeys | scale | tiepoint | nodata | IFD
    off_strip = 8
    off_geo = off_strip + len(strip)
    off_scale = off_geo + len(geokeys)
    off_tie = off_scale + len(scale)
    off_nodata = off_tie + len(tiepoint)
    off_ifd = off_nodata + len(nodata_ascii)
    if off_ifd % 2:  # IFD must be word-aligned
        nodata_ascii += b"\x00"
        off_ifd += 1

    def entry(tag: int, typ: int, count: int, value: int) -> bytes:
        return struct.pack("<HHII", tag, typ, count, value)

    entries = [
        entry(256, 4, 1, w),              # ImageWidth
        entry(257, 4, 1, h),              # ImageLength
        entry(258, 3, 1, 32),             # BitsPerSample
        entry(259, 3, 1, 1),              # Compression = none
        entry(262, 3, 1, 1),              # Photometric = BlackIsZero
        entry(273, 4, 1, off_strip),      # StripOffsets
        entry(277, 3, 1, 1),              # SamplesPerPixel
        entry(278, 4, 1, h),              # RowsPerStrip (one strip)
        entry(279, 4, 1, len(strip)),     # StripByteCounts
        entry(284, 3, 1, 1),              # PlanarConfiguration = chunky
        entry(339, 3, 1, 3),              # SampleFormat = IEEE float
        entry(33550, 12, 3, off_scale),   # ModelPixelScaleTag
        entry(33922, 12, 6, off_tie),     # ModelTiepointTag
        entry(34735, 3, len(geokeys) // 2, off_geo),  # GeoKeyDirectoryTag
        entry(42113, 2, len(nodata_ascii), off_nodata),  # GDAL_NODATA
    ]
    entries.sort(key=lambda e: struct.unpack("<H", e[:2])[0])  # TIFF mandate
    ifd = struct.pack("<H", len(entries)) + b"".join(entries) + struct.pack("<I", 0)
    return (
        struct.pack("<2sHI", b"II", 42, off_ifd)
        + strip
        + geokeys
        + scale
        + tiepoint
        + nodata_ascii
        + ifd
    )


def write_aaigrid(
    path: str,
    data: np.ndarray,
    west: float,
    south: float,
    cellsize: float,
    nodata: float = -9999.0,
) -> None:
    """Arc/Info ASCII Grid (the reference's other raster format,
    wcofs.py:645-711 driver='AAIGrid'): text header + rows north-first.
    `data` is north-up (row 0 = max lat) like write_geotiff.

    Coordinate convention: pass the SOUTH-WEST SAMPLE POINT of the
    lattice as (west, south) — it is written verbatim as
    xllcorner/yllcorner and `read_aaigrid_raster` reads it back as the
    first sample's lon/lat (no half-cell shift), so write→scan
    round-trips exactly and matches the GeoTIFF convention used
    throughout this repo. For strict Arc/Info corner-anchored output,
    pass west - cellsize/2, south - cellsize/2 instead."""
    h, w = data.shape
    # non-finite cells map to the declared nodata value: AAIGrid has no
    # NaN concept, and a literal 'nan' token in row 0 would be mistaken
    # for a header line by naive readers (including ours, pre-round-4)
    data = np.asarray(data, dtype=np.float64)
    data = np.where(np.isfinite(data), data, nodata)
    with open(path, "w") as fh:
        fh.write(
            f"ncols {w}\nnrows {h}\nxllcorner {west!r}\nyllcorner {south!r}\n"
            f"cellsize {cellsize!r}\nNODATA_value {nodata!r}\n"
        )
        for row in data:
            fh.write(" ".join(repr(v) for v in row) + "\n")


def read_aaigrid(path: str) -> dict:
    """Parse an AAIGrid file → {data (north-up), west, south, cellsize,
    nodata}."""
    with open(path) as fh:
        return read_aaigrid_bytes(fh.read())


def read_aaigrid_bytes(text) -> dict:
    """Parse AAIGrid content (str or bytes) — kernel behind the path
    reader and the Spark binaryFile scan source (scan.py)."""
    if isinstance(text, (bytes, bytearray)):
        text = bytes(text).decode()
    lines = text.split("\n")
    hdr = {}
    i = 0
    # bound the header scan to the six known AAIGrid keys so a data row
    # that happens to start with a letter-ish token can never be eaten
    known = {"ncols", "nrows", "xllcorner", "yllcorner", "cellsize",
             "nodata_value"}
    while i < len(lines) and lines[i]:
        tok = lines[i].split()[0].lower()
        if tok not in known:
            break
        k, v = lines[i].split(maxsplit=1)
        hdr[k.lower()] = float(v)
        i += 1
    missing = known - {"nodata_value"} - hdr.keys()
    if missing:
        raise ValueError(f"AAIGrid header lacks {sorted(missing)}")
    rows = [[float(x) for x in line.split()] for line in lines[i:] if line.strip()]
    shape = (int(hdr["nrows"]), int(hdr["ncols"]))
    if len(rows) != shape[0] or any(len(r) != shape[1] for r in rows):
        raise ValueError(f"AAIGrid data does not fill its {shape} header")
    data = np.array(rows)
    return {
        "data": data,
        "west": hdr["xllcorner"],
        "south": hdr["yllcorner"],
        "cellsize": hdr["cellsize"],
        "nodata": hdr.get("nodata_value"),
    }


def read_geotiff(path: str) -> dict:
    """Parse the subset written above (plus enough TIFF generality to read
    any little-endian uncompressed single-band float32 GeoTIFF whose
    strips are contiguous); anything else raises ValueError.
    Returns {data, west, north, dx, dy, nodata, geokeys}."""
    with open(path, "rb") as fh:
        return read_geotiff_bytes(fh.read())


def read_geotiff_bytes(buf: bytes) -> dict:
    """Parse a GeoTIFF byte buffer — the kernel behind both the path-based
    reader and the Spark binaryFile scan source (scan.py)."""
    order, magic, off_ifd = struct.unpack_from("<2sHI", buf, 0)
    if order != b"II" or magic != 42:
        raise ValueError("not a little-endian TIFF")
    (n_entries,) = struct.unpack_from("<H", buf, off_ifd)
    tags: dict[int, tuple] = {}
    for i in range(n_entries):
        tag, typ, count, raw = struct.unpack_from(
            "<HHII", buf, off_ifd + 2 + 12 * i
        )
        fmt, size = _TIFF_TYPES.get(typ, ("I", 4))
        total = size * count
        if typ == 2:
            data = (
                buf[raw : raw + count]
                if total > 4
                else struct.pack("<I", raw)[:count]
            )
            tags[tag] = (data.split(b"\x00")[0].decode(),)
        else:
            src = raw if total > 4 else None
            if src is not None:
                tags[tag] = struct.unpack_from(f"<{count}{fmt}", buf, src)
            else:
                tags[tag] = struct.unpack_from(
                    f"<{count}{fmt}", struct.pack("<I", raw)[:total]
                )
    w, h = tags[256][0], tags[257][0]
    if tags.get(259, (1,))[0] != 1 or tags.get(339, (3,))[0] != 3:
        raise ValueError("only uncompressed float rasters supported")
    # TIFF defaults: BitsPerSample 1, SamplesPerPixel 1
    if tags.get(258, (1,)) != (32,) or tags.get(277, (1,)) != (1,):
        raise ValueError("only single-band 32-bit rasters supported")
    offsets = tags[273]
    ends = list(itertools.accumulate(tags[279], initial=offsets[0]))
    if (
        list(offsets) != ends[:-1]
        or ends[-1] - offsets[0] != h * w * 4
        or ends[-1] > len(buf)
    ):
        raise ValueError("strips must hold h*w float32 cells contiguously")
    data = np.frombuffer(buf, "<f4", count=h * w, offset=offsets[0]).reshape(h, w)
    dx, dy, _ = tags[33550]
    _, _, _, west, north, _ = tags[33922]
    nodata = float(tags[42113][0]) if 42113 in tags else None
    gk = tags.get(34735, ())
    geokeys = {
        gk[4 + 4 * i]: gk[7 + 4 * i] for i in range((len(gk) - 4) // 4)
    } if gk else {}
    return {
        "data": data.copy(),
        "west": west,
        "north": north,
        "dx": dx,
        "dy": dy,
        "nodata": nodata,
        "geokeys": geokeys,
    }
