"""LAS point-cloud source — pure-numpy parser, Spark-distributed portions.

Re-expresses the reference's LAS pipeline (las_reader.py:12-154) Spark-first:

- S1 header scan (`las_summary`): per-file header mins/maxs -> global AABB,
  avg_min = mean of per-file mins, point count, auto color-scale detection
  (first 10k red values > 255 -> 1/255), and >=1M-point portion splits
  (las_reader.py:27-51). Headers only — O(files), driver-side, cheap.
- S2 portion read (`las_scan`): each portion is one Arrow batch row into a
  mapInPandas reader that seeks straight to its byte range (LAS rows are
  fixed-length records — portions ARE input splits, no scan needed), applies
  the LAS intrinsic affine (X*scale+offset, las_reader.py:105-107), then the
  conversion affine `(v + offset) * scale` and optional rotation matrix
  (las_reader.py:112-121), casts float32, and scales colors to uint8
  (las_reader.py:126-139).

No laspy/liblas (not installed; the format is 227 bytes of header + fixed
records): the parser reads the LAS 1.x public header directly and supports
point formats 0-3 (XYZ int32 + optional GPS time + optional RGB u16).

At 100 TB you would convert LAS archives to parquet once and scan that; this
source exists for reference parity (`convert file.las`) and as the portable
ingest path. Portions parallelize across executors; the only driver work is
one header read per file.
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass

import numpy as np
import pandas as pd

from py3dtiles_spark.session import local_frame

# record length and RGB byte offset per LAS point format id
_FORMAT_RGB_OFFSET = {0: None, 1: None, 2: 20, 3: 28}
_FORMAT_LEN = {0: 20, 1: 28, 2: 26, 3: 34}

POINTS_SCHEMA = ("point_id long, x float, y float, z float, "
                 "r smallint, g smallint, b smallint")


@dataclass
class LasHeader:
    path: str
    version: tuple
    point_format: int
    record_len: int
    point_count: int
    data_offset: int
    scale: np.ndarray    # (3,) float64 — intrinsic coordinate scale
    offset: np.ndarray   # (3,) float64 — intrinsic coordinate offset
    mins: np.ndarray     # (3,) float64 — header min x/y/z
    maxs: np.ndarray     # (3,) float64

    @property
    def has_rgb(self) -> bool:
        return _FORMAT_RGB_OFFSET.get(self.point_format & 0x3F) is not None


def read_las_header(path: str) -> LasHeader:
    """Parse the LAS 1.x public header block (fixed offsets per spec)."""
    with open(path, "rb") as f:
        buf = f.read(227)
    if buf[:4] != b"LASF":
        raise ValueError(f"{path}: not a LAS file (bad magic {buf[:4]!r})")
    major, minor = buf[24], buf[25]
    data_offset = struct.unpack_from("<I", buf, 96)[0]
    point_format = buf[104] & 0x3F   # mask laszip compression bit
    record_len = struct.unpack_from("<H", buf, 105)[0]
    point_count = struct.unpack_from("<I", buf, 107)[0]
    sx, sy, sz, ox, oy, oz = struct.unpack_from("<6d", buf, 131)
    xmax, xmin, ymax, ymin, zmax, zmin = struct.unpack_from("<6d", buf, 179)
    return LasHeader(
        path=os.path.abspath(path), version=(major, minor),
        point_format=point_format, record_len=record_len,
        point_count=point_count, data_offset=data_offset,
        scale=np.array([sx, sy, sz]), offset=np.array([ox, oy, oz]),
        mins=np.array([xmin, ymin, zmin]), maxs=np.array([xmax, ymax, zmax]))


def read_las_points(hdr: LasHeader, lo: int, hi: int):
    """Raw record slice [lo, hi): returns (xyz float64 REAL coords after the
    intrinsic affine, rgb uint16 (N,3) | None). Unaligned-safe: records are
    read as a byte matrix and columns re-viewed, so any record_len works."""
    n = hi - lo
    with open(hdr.path, "rb") as f:
        f.seek(hdr.data_offset + lo * hdr.record_len)
        raw = np.frombuffer(f.read(n * hdr.record_len), dtype=np.uint8)
    raw = raw.reshape(n, hdr.record_len)
    ixyz = np.column_stack([
        raw[:, c:c + 4].copy().view("<i4").ravel() for c in (0, 4, 8)])
    xyz = ixyz * hdr.scale + hdr.offset    # las_reader.py:105-107
    rgb_off = _FORMAT_RGB_OFFSET.get(hdr.point_format)
    rgb = None
    if rgb_off is not None and hdr.record_len >= rgb_off + 6:
        rgb = np.column_stack([
            raw[:, c:c + 2].copy().view("<u2").ravel()
            for c in (rgb_off, rgb_off + 2, rgb_off + 4)])
    return xyz, rgb


def detect_color_scale(hdr: LasHeader, sample: int = 10_000):
    """Reference auto-detection (las_reader.py:38-45): if the first 10k red
    values exceed 255 the colors are 16-bit -> scale 1/255; no RGB -> 1/255
    (intensity fallback); else colors are already 8-bit -> None."""
    if not hdr.has_rgb:
        return 1.0 / 255
    _, rgb = read_las_points(hdr, 0, min(sample, hdr.point_count))
    return 1.0 / 255 if rgb is not None and rgb[:, 0].max() > 255 else None


def las_summary(paths, color_scale=None, fraction: int = 100,
                portion_size: int = 1_000_000) -> dict:
    """S1 header scan over all files: global AABB, avg_min, total count,
    color scale, and the portion work-list [(path, lo, hi, base_id)]."""
    paths = [paths] if isinstance(paths, str) else list(paths)
    headers = [read_las_header(p) for p in paths]
    aabb = np.array([
        np.min([h.mins for h in headers], axis=0),
        np.max([h.maxs for h in headers], axis=0)])
    avg_min = np.mean([h.mins for h in headers], axis=0)
    if color_scale is None:
        color_scale = detect_color_scale(headers[0])
    portions, base, total = [], 0, 0
    for h in headers:
        count = int(h.point_count * fraction / 100)
        total += count
        for lo in range(0, count, portion_size):
            hi = min(count, lo + portion_size)
            portions.append((h.path, lo, hi, base + lo))
        base += h.point_count
    return {"aabb": aabb, "avg_min": avg_min, "point_count": total,
            "color_scale": color_scale, "portions": portions,
            "headers": headers}


def las_scan(spark, paths, offset=None, scale=None, matrix=None,
             color_scale="auto", fraction: int = 100,
             portion_size: int = 1_000_000, summary: dict | None = None):
    """S2: distributed LAS read -> DataFrame (point_id, x, y, z, r, g, b).

    Transform chain per the reference (las_reader.py:105-121):
      real = X*las_scale + las_offset        (intrinsic, in read_las_points)
      v    = (real + offset) * scale         (conversion affine)
      v    = v @ matrix                      (optional rotation, float64)
      cast float32; colors * color_scale -> uint8

    point_id = global record ordinal (base_id + row): unique, deterministic,
    and equal to the reference's read order — the canonical insertion order.
    """
    info = summary or las_summary(paths, None if color_scale == "auto"
                                  else color_scale, fraction, portion_size)
    cs = info["color_scale"] if color_scale == "auto" else color_scale
    off = np.zeros(3) if offset is None else np.asarray(offset, dtype=np.float64)
    sc = np.ones(3) if scale is None else np.asarray(scale, dtype=np.float64)
    mat = None if matrix is None else np.asarray(matrix, dtype=np.float64)
    hdr_by_path = {h.path: h for h in info["headers"]}

    portions_df = local_frame(
        spark, pd.DataFrame(info["portions"],
                            columns=["path", "lo", "hi", "base_id"]),
        "path string, lo long, hi long, base_id long")

    def read_portions(batches):
        for pdf in batches:
            for path, lo, hi, base_id in pdf.itertuples(index=False):
                hdr = hdr_by_path[path]
                xyz, rgb = read_las_points(hdr, int(lo), int(hi))
                xyz = (xyz + off) * sc
                if mat is not None:
                    xyz = xyz @ mat
                xyz = xyz.astype(np.float32)
                n = len(xyz)
                if rgb is None:
                    r = g = b = np.zeros(n, dtype=np.int16)
                elif cs is None:
                    r, g, b = (rgb[:, i].astype(np.uint8).astype(np.int16)
                               for i in range(3))
                else:
                    r, g, b = ((rgb[:, i] * cs).astype(np.uint8).astype(np.int16)
                               for i in range(3))
                yield pd.DataFrame({
                    "point_id": np.arange(base_id, base_id + n, dtype=np.int64),
                    "x": xyz[:, 0], "y": xyz[:, 1], "z": xyz[:, 2],
                    "r": r, "g": g, "b": b})

    # one portion per task: repartition the (tiny) work-list so every
    # executor core pulls its own byte range
    return (portions_df.repartition(max(len(info["portions"]), 1))
            .mapInPandas(read_portions, schema=POINTS_SCHEMA))
