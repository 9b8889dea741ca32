"""S2: Shapefile ingestion (reference spark/spark.py:58-73, which used
Sedona's ``shapefile`` DataSource).

Pure-Python reader of the public ESRI Shapefile spec ("ESRI Shapefile
Technical Description", 1998): the ``.shp`` geometry file, the ``.shx``
record index, and the ``.dbf`` (dBASE III) attribute table. Geometry is
re-encoded as canonical WKT, so every downstream capability (validate →
index → resolve) is identical to the Parquet/CSV-WKT path.

Scale design: the driver reads only the fixed-size headers (schema +
record count + offsets ≤ 8 bytes/record); record payloads are parsed on
executors via ``mapInPandas`` over record-id ranges, each task seeking
directly to its byte ranges. A single large shapefile therefore fans
out across the cluster instead of being one task (the spec caps a .shp
at ~2 GB, so offsets always fit the driver). Files must be visible
from executors (shared filesystem), as with any Spark file source.
"""

from __future__ import annotations

import math
import struct
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_GEOM_COL = "geometry"

# shape type ids (XY, M, Z variants share the leading XY layout)
_NULL = 0
_POINT_TYPES = {1, 11, 21}
_LINE_TYPES = {3, 13, 23}
_POLYGON_TYPES = {5, 15, 25}
_MULTIPOINT_TYPES = {8, 18, 28}


def _scan_shp_offsets(shp_path: str) -> list[tuple[int, int]]:
    """Fallback when no .shx exists: walk the record headers."""
    out = []
    with open(shp_path, "rb") as f:
        header = f.read(100)
        if len(header) < 100 or struct.unpack(">i", header[:4])[0] != 9994:
            raise ValueError(f"not a shapefile: {shp_path}")
        file_len = struct.unpack(">i", header[24:28])[0] * 2
        pos = 100
        while pos < file_len:
            f.seek(pos)
            rec = f.read(8)
            if len(rec) < 8:
                break
            content_len = struct.unpack(">i", rec[4:8])[0] * 2
            out.append((pos, content_len))
            pos += 8 + content_len
    return out


def _read_dbf_header(dbf_path: str):
    """(fields, header_size, record_size, n_records) where fields is
    [(name, type_char, length, decimals), ...] (dBASE III layout)."""
    with open(dbf_path, "rb") as f:
        head = f.read(32)
        n_records = struct.unpack("<I", head[4:8])[0]
        header_size = struct.unpack("<H", head[8:10])[0]
        record_size = struct.unpack("<H", head[10:12])[0]
        fields = []
        while True:
            desc = f.read(32)
            if not desc or desc[0] == 0x0D or len(desc) < 32:
                break
            name = desc[:11].split(b"\x00")[0].decode("ascii",
                                                      "replace").strip()
            ftype = chr(desc[11])
            length = desc[16]
            dec = desc[17]
            fields.append((name, ftype, length, dec))
            if 32 + len(fields) * 32 >= header_size:
                break
    return fields, header_size, record_size, n_records


def _dbf_field_type(ftype: str, dec: int):
    if ftype in ("N", "F"):
        return T.DoubleType() if (dec > 0 or ftype == "F") \
            else T.LongType()
    if ftype == "L":
        return T.BooleanType()
    return T.StringType()  # C, D, memo and anything exotic


def _dbf_value(raw: bytes, ftype: str, dec: int):
    s = raw.decode("ascii", "replace").strip()
    if not s or s == "*" * len(s):
        return None
    if ftype in ("N", "F"):
        try:
            return float(s) if (dec > 0 or ftype == "F") else int(s)
        except ValueError:
            return None
    if ftype == "L":
        if s in "YyTt":
            return True
        if s in "NnFf":
            return False
        return None
    return s


def _ring_signed_area(pts) -> float:
    s = 0.0
    n = len(pts)
    for i in range(n - 1):
        x1, y1 = pts[i]
        x2, y2 = pts[i + 1]
        s += x1 * y2 - x2 * y1
    return s / 2.0


def _point_in_ring(x: float, y: float, ring) -> bool:
    inside = False
    n = len(ring)
    for i in range(n - 1):
        x1, y1 = ring[i]
        x2, y2 = ring[i + 1]
        if (y1 > y) != (y2 > y):
            if x < x1 + (y - y1) / (y2 - y1) * (x2 - x1):
                inside = not inside
    return inside


def _fmt(v: float) -> str:
    return f"{v:.10g}" if math.isfinite(v) else "0"


def _rings_to_wkt(rings) -> str | None:
    """ESRI polygon rings → WKT. Outer rings are clockwise, holes
    counter-clockwise (spec); holes attach to the outer ring that
    contains their first vertex."""
    outers = []
    holes = []
    for r in rings:
        if len(r) < 4:
            continue
        (outers if _ring_signed_area(r) < 0.0 else holes).append(r)
    if not outers:
        if not holes:
            return None
        outers, holes = holes, []  # tolerate mis-oriented input
    polys = [[o] for o in outers]
    for h in holes:
        hx, hy = h[0]
        for poly in polys:
            if _point_in_ring(hx, hy, poly[0]):
                poly.append(h)
                break
        else:
            polys.append([h])  # orphan hole: keep as its own polygon
    def ring_str(r):
        return "(" + ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in r) + ")"
    if len(polys) == 1:
        return "POLYGON (" + ", ".join(ring_str(r) for r in polys[0]) + ")"
    return "MULTIPOLYGON (" + ", ".join(
        "(" + ", ".join(ring_str(r) for r in poly) + ")" for poly in polys
    ) + ")"


def parse_shp_record(content: bytes) -> str | None:
    """One .shp record content block → WKT (None for null shapes)."""
    if len(content) < 4:
        return None
    shape_type = struct.unpack("<i", content[:4])[0]
    if shape_type == _NULL:
        return None
    if shape_type in _POINT_TYPES:
        x, y = struct.unpack("<2d", content[4:20])
        return f"POINT ({_fmt(x)} {_fmt(y)})"
    if shape_type in _MULTIPOINT_TYPES:
        (npts,) = struct.unpack("<i", content[36:40])
        pts = struct.unpack(f"<{2 * npts}d", content[40 : 40 + 16 * npts])
        body = ", ".join(
            f"{_fmt(pts[2 * i])} {_fmt(pts[2 * i + 1])}"
            for i in range(npts)
        )
        return f"MULTIPOINT ({body})"
    if shape_type in _LINE_TYPES or shape_type in _POLYGON_TYPES:
        nparts, npts = struct.unpack("<2i", content[36:44])
        parts = struct.unpack(f"<{nparts}i", content[44 : 44 + 4 * nparts])
        base = 44 + 4 * nparts
        flat = struct.unpack(f"<{2 * npts}d", content[base : base + 16 * npts])
        pts = [(flat[2 * i], flat[2 * i + 1]) for i in range(npts)]
        bounds = list(parts) + [npts]
        rings = [pts[bounds[i] : bounds[i + 1]] for i in range(nparts)]
        rings = [r for r in rings if len(r) >= 2]
        if not rings:
            return None
        if shape_type in _LINE_TYPES:
            def ls(r):
                return ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in r)
            if len(rings) == 1:
                return f"LINESTRING ({ls(rings[0])})"
            return "MULTILINESTRING (" + ", ".join(
                f"({ls(r)})" for r in rings
            ) + ")"
        return _rings_to_wkt(rings)
    return None  # unsupported exotic type


def read_shapefile(
    spark: SparkSession,
    path: str,
    partitions: int | None = None,
) -> DataFrame:
    """Shapefile → DataFrame with the .dbf attribute columns plus a
    canonical-WKT ``geometry`` column (Sedona-reader parity,
    reference spark/spark.py:58-73)."""
    shp_path = path
    stem = path[:-4] if path.lower().endswith(".shp") else path
    shx_path, dbf_path = stem + ".shx", stem + ".dbf"

    # Offsets: prefer reading .shx slices ON THE EXECUTOR (8 bytes per
    # record, seeked per batch) so nothing record-proportional ships in
    # the task closure — a full-size 2 GB .shp has ~10^8 records and a
    # driver-materialized offset list would not scale. Only the record
    # COUNT is read on the driver. Without a .shx the driver scans the
    # record headers once and ships a compact numpy offset array.
    shx_entries: "object" = None
    try:
        with open(shx_path, "rb") as f:
            header = f.read(100)
            if len(header) < 100 or struct.unpack(">i", header[:4])[0] != 9994:
                raise OSError("bad shx")
            file_len = struct.unpack(">i", header[24:28])[0] * 2
            n = (file_len - 100) // 8
        have_shx = True
    except OSError:
        import numpy as np

        scanned = _scan_shp_offsets(shp_path)
        shx_entries = np.asarray(scanned, dtype=np.int64)
        n = len(scanned)
        have_shx = False

    try:
        fields, dbf_header, dbf_rec_size, _ = _read_dbf_header(dbf_path)
        have_dbf = True
    except OSError:
        fields, dbf_header, dbf_rec_size, have_dbf = [], 0, 0, False

    schema = T.StructType(
        [
            T.StructField(name, _dbf_field_type(ftype, dec), True)
            for name, ftype, _, dec in fields
        ]
        + [T.StructField(_GEOM_COL, T.StringType(), True)]
    )
    if partitions is None:
        partitions = max(1, min(n, spark.sparkContext.defaultParallelism))

    meta = {
        "shp": shp_path,
        "shx": shx_path if have_shx else None,
        "dbf": dbf_path if have_dbf else None,
        "offsets": shx_entries,  # numpy (n, 2) only when no .shx
        "fields": fields,
        "dbf_header": dbf_header,
        "dbf_rec_size": dbf_rec_size,
    }

    def parse_range(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids = pdf["id"].to_list()
            if not ids:
                continue
            lo, hi = min(ids), max(ids)
            if meta["shx"] is not None:
                # one contiguous .shx read for the batch's id span
                with open(meta["shx"], "rb") as shx:
                    shx.seek(100 + 8 * lo)
                    raw = shx.read(8 * (hi - lo + 1))

                def entry(rid):
                    ow, lw = struct.unpack_from(">ii", raw, 8 * (rid - lo))
                    return ow * 2, lw * 2
            else:
                offs = meta["offsets"]

                def entry(rid):
                    return int(offs[rid, 0]), int(offs[rid, 1])

            rows = {name: [] for name, *_ in meta["fields"]}
            geoms = []
            with open(meta["shp"], "rb") as shp:
                dbf = open(meta["dbf"], "rb") if meta["dbf"] else None
                try:
                    for rid in ids:
                        off, clen = entry(rid)
                        shp.seek(off + 8)
                        geoms.append(parse_shp_record(shp.read(clen)))
                        if dbf is not None:
                            dbf.seek(
                                meta["dbf_header"]
                                + rid * meta["dbf_rec_size"]
                            )
                            rec = dbf.read(meta["dbf_rec_size"])
                            pos = 1  # skip deletion flag
                            for name, ftype, length, dec in meta["fields"]:
                                rows[name].append(
                                    _dbf_value(
                                        rec[pos : pos + length], ftype, dec
                                    )
                                )
                                pos += length
                finally:
                    if dbf is not None:
                        dbf.close()
            rows[_GEOM_COL] = geoms
            yield pd.DataFrame(rows)

    ids = spark.range(n, numPartitions=partitions).toDF("id")
    return ids.mapInPandas(parse_range, schema=schema)
