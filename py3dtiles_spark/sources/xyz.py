"""XYZ text point-cloud source — distributed byte-range splits.

Re-expresses the reference XYZ reader (xyz_reader.py:9-163) Spark-first.
The reference's init() builds a 1M-point seek index with a sequential
driver line-scan; the Spark answer is Hadoop-style byte splits: the driver
only stats the file, each task seeks to its chunk start, skips the partial
first line (owned by the previous chunk), and parses lines until it passes
its chunk end. No driver scan, no seek index — the AABB pass becomes one
distributed agg over the parsed DataFrame.

Column-count dispatch identical to xyz_reader.run:84-95 (FME convention):
  3 -> XYZ, 4 -> XYZI, 6 -> XYZRGB, 7 -> XYZIRGB.

point_id = (chunk_ordinal << 24) | line_in_chunk: deterministic and unique
for chunks <= 16M lines (64 MiB chunks of >=4-byte lines); ordering differs
from the file's global line order only across chunk boundaries, which is
the same freedom the reference's parallel portion readers have.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from py3dtiles_spark.session import local_frame
from py3dtiles_spark.sources.las import POINTS_SCHEMA

DEFAULT_CHUNK = 64 * 1024 * 1024


def xyz_chunks(paths, chunk_bytes: int = DEFAULT_CHUNK):
    """Driver-side work-list [(path, start, end, chunk_ordinal)] — stat only."""
    paths = [paths] if isinstance(paths, str) else list(paths)
    out, ordinal = [], 0
    for p in paths:
        size = os.path.getsize(p)
        for start in range(0, max(size, 1), chunk_bytes):
            out.append((os.path.abspath(p), start,
                        min(size, start + chunk_bytes), ordinal))
            ordinal += 1
    return out


def _parse_chunk(path: str, start: int, end: int):
    """Read [start, end) honoring line boundaries: skip the first partial
    line unless start==0; keep reading past `end` to finish the last line."""
    with open(path, "rb") as f:
        # ownership rule: a chunk owns every line whose FIRST byte lies in
        # [start, end). Skip the first line only when `start` is mid-line
        # (the byte before it is not a newline) — skipping unconditionally
        # lost any line that began exactly at a chunk boundary.
        if start > 0:
            f.seek(start - 1)
            if f.read(1) != b"\n":
                f.readline()        # start mid-line: previous chunk owns it
        pos = f.tell()
        if pos >= end:
            # the skipped partial line ran past `end`: this chunk owns no
            # line starting in [start, end) — reading on would duplicate
            # the next chunk's first line
            buf = b""
        else:
            buf = f.read(end - pos)
            if not buf.endswith(b"\n"):
                buf += f.readline()  # finish the straddling last line
    rows = [ln.split() for ln in buf.decode("utf-8", "replace").splitlines()
            if ln.strip()]
    if not rows:
        return np.zeros((0, 3)), None
    try:
        arr = np.array(rows, dtype=np.float64)     # fast path: clean file
        ncols = arr.shape[1]
    except ValueError:
        # ragged or non-numeric rows (headers/comments): keep only rows
        # that fully parse; column count by MAJORITY VOTE across parsed
        # rows (an anomalous first data row — e.g. a truncated 3-col line
        # in an xyzrgb file — must not silently drop the rgb columns or
        # discard the valid rows)
        from collections import Counter
        parsed = []
        for r in rows:
            try:
                parsed.append([float(v) for v in r])
            except ValueError:
                continue
        if not parsed:
            return np.zeros((0, 3)), None
        counts = Counter(len(r) for r in parsed)
        # ties break toward the wider layout so color columns survive
        ncols = max(counts, key=lambda c: (counts[c], c))
        arr = np.array([r for r in parsed if len(r) == ncols],
                       dtype=np.float64)
    xyz = arr[:, :3]
    if ncols >= 6:
        rgb = arr[:, -3:]           # last 3 columns (xyz_reader.py:146)
    else:
        rgb = None
    return xyz, rgb


def xyz_scan(spark, paths, offset=None, scale=None, matrix=None,
             color_scale=None, chunk_bytes: int = DEFAULT_CHUNK):
    """S3/S4: distributed XYZ read -> (point_id, x, y, z, r, g, b) with the
    same conversion affine chain as the LAS source (las.py las_scan)."""
    off = np.zeros(3) if offset is None else np.asarray(offset, dtype=np.float64)
    sc = np.ones(3) if scale is None else np.asarray(scale, dtype=np.float64)
    mat = None if matrix is None else np.asarray(matrix, dtype=np.float64)
    chunks = xyz_chunks(paths, chunk_bytes)
    chunks_df = local_frame(
        spark, pd.DataFrame(chunks, columns=["path", "start", "end", "ordinal"]),
        "path string, start long, end long, ordinal long")

    def read_chunks(batches):
        for pdf in batches:
            for path, start, end, ordinal in pdf.itertuples(index=False):
                xyz, rgb = _parse_chunk(path, int(start), int(end))
                v = (xyz + off) * sc
                if mat is not None:
                    v = v @ mat
                v = v.astype(np.float32)
                n = len(v)
                if rgb is None:
                    r = g = b = np.zeros(n, dtype=np.int16)
                else:
                    csc = 1.0 if color_scale is None else color_scale
                    r, g, b = ((rgb[:, i] * csc).astype(np.uint8).astype(np.int16)
                               for i in range(3))
                yield pd.DataFrame({
                    "point_id": (np.int64(ordinal) << 24)
                    + np.arange(n, dtype=np.int64),
                    "x": v[:, 0], "y": v[:, 1], "z": v[:, 2],
                    "r": r, "g": g, "b": b})

    return (chunks_df.repartition(max(len(chunks), 1))
            .mapInPandas(read_chunks, schema=POINTS_SCHEMA))


def xyz_summary(spark, paths, chunk_bytes: int = DEFAULT_CHUNK) -> dict:
    """S3 init equivalent: AABB + count as ONE distributed agg pass over the
    raw scan (vs the reference's sequential driver line-scan)."""
    from pyspark.sql import functions as F
    df = xyz_scan(spark, paths, chunk_bytes=chunk_bytes)
    row = df.agg(F.min("x"), F.min("y"), F.min("z"),
                 F.max("x"), F.max("y"), F.max("z"),
                 F.count("*")).collect()[0]
    aabb = np.array([[row[0], row[1], row[2]], [row[3], row[4], row[5]]])
    return {"aabb": aabb, "avg_min": aabb[0].copy(), "point_count": row[6]}
