"""3D Tiles .pnts PointCloud codec — pure numpy, Arrow-UDF friendly.

Binary layout per the 3D Tiles 1.0 spec (reference: py3dtiles/pnts.py:72-109,
feature_table.py:96-345):

  28-byte header: magic 'pnts', version=1, tile_byte_length,
                  ft_json_len, ft_bin_len, bt_json_len=0, bt_bin_len=0
  feature-table JSON header (padded to 8-byte boundary with spaces)
  feature-table body: float32 XYZ * N  ++  uint8 RGB * N

Plus the Spark-side sinks: one output row per tile with the packed payload
(points never leave the executors; a tile's bytes are built inside one
grouped-map UDF call), written to parquet — or to r<name>.pnts files with
the reference's 8-chars-per-directory sharding (points/utils.py:26-40).
"""

from __future__ import annotations

import json
import os
import struct

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame, functions as F

PNTS_HEADER_LEN = 28
_MAGIC = b"pnts"


def encode_pnts(xyz: np.ndarray, rgb: np.ndarray | None = None,
                rtc_center=None) -> bytes:
    """Pack positions (+colors) into a .pnts tile."""
    xyz = np.ascontiguousarray(xyz, dtype=np.float32)
    n = xyz.shape[0]
    body = xyz.tobytes()
    ft = {"POINTS_LENGTH": n, "POSITION": {"byteOffset": 0}}
    if rgb is not None:
        rgb = np.ascontiguousarray(rgb, dtype=np.uint8)
        ft["RGB"] = {"byteOffset": len(body)}
        body += rgb.tobytes()
    if rtc_center is not None:
        ft["RTC_CENTER"] = list(map(float, rtc_center))
    ft_json = json.dumps(ft).encode("utf-8")
    # pad JSON so the binary body is 8-byte aligned (spec requirement)
    pad = (8 - (PNTS_HEADER_LEN + len(ft_json)) % 8) % 8
    ft_json += b" " * pad
    total = PNTS_HEADER_LEN + len(ft_json) + len(body)
    header = struct.pack("<4sIIIIII", _MAGIC, 1, total,
                         len(ft_json), len(body), 0, 0)
    return header + ft_json + body


def decode_pnts(buf: bytes, apply_rtc: bool = True):
    """Inverse of encode_pnts, extended to the full spec position/color
    semantics the reference reads (feature_table.py:178-182,232-265):
    POSITION (f32) or POSITION_QUANTIZED (u16 dequantized by
    QUANTIZED_VOLUME_SCALE/OFFSET), RGB or RGBA (alpha dropped), and
    RTC_CENTER added to positions (in f64, then narrowed) when apply_rtc.
    Returns (xyz f32 (N,3), rgb u8 (N,3) | None, feature_table dict).
    Raises ValueError on a short header, wrong magic, a version other
    than 1, or a declared byte length that differs from len(buf)."""
    if len(buf) < PNTS_HEADER_LEN:
        raise ValueError(f"pnts header needs {PNTS_HEADER_LEN} bytes, "
                         f"got {len(buf)}")
    magic, version, total, ftj, ftb, btj, btb = struct.unpack(
        "<4sIIIIII", buf[:PNTS_HEADER_LEN])
    if magic != _MAGIC:
        raise ValueError(f"not a pnts tile: magic {magic!r}")
    if version != 1:
        raise ValueError(f"unsupported pnts version {version}")
    if total != len(buf):
        raise ValueError(f"pnts header declares {total} bytes, "
                         f"buffer holds {len(buf)}")
    ft = json.loads(buf[PNTS_HEADER_LEN:PNTS_HEADER_LEN + ftj])
    body = buf[PNTS_HEADER_LEN + ftj:PNTS_HEADER_LEN + ftj + ftb]
    n = ft["POINTS_LENGTH"]
    if "POSITION" in ft:
        xyz = np.frombuffer(body, dtype=np.float32, count=3 * n,
                            offset=ft["POSITION"]["byteOffset"]).reshape(n, 3)
    elif "POSITION_QUANTIZED" in ft:
        q = np.frombuffer(
            body, dtype=np.uint16, count=3 * n,
            offset=ft["POSITION_QUANTIZED"]["byteOffset"]).reshape(n, 3)
        scale = np.asarray(ft["QUANTIZED_VOLUME_SCALE"], dtype=np.float32)
        qoff = np.asarray(ft["QUANTIZED_VOLUME_OFFSET"], dtype=np.float32)
        xyz = (q.astype(np.float32) / np.float32(65535.0)) * scale + qoff
    else:
        raise ValueError("pnts feature table has no POSITION[_QUANTIZED]")
    if apply_rtc and "RTC_CENTER" in ft:
        rtc = np.asarray(ft["RTC_CENTER"], dtype=np.float64)
        xyz = (xyz.astype(np.float64) + rtc).astype(np.float32)
    rgb = None
    if "RGB" in ft:
        rgb = np.frombuffer(body, dtype=np.uint8, count=3 * n,
                            offset=ft["RGB"]["byteOffset"]).reshape(n, 3)
    elif "RGBA" in ft:
        rgb = np.frombuffer(body, dtype=np.uint8, count=4 * n,
                            offset=ft["RGBA"]["byteOffset"]
                            ).reshape(n, 4)[:, :3]
    return xyz, rgb, ft


def name_to_relpath(tile_id: str, suffix: str = ".pnts") -> str:
    """Reference 8-char directory fan-out (points/utils.py:26-40):
    'r' prefix, name chunked 8 chars per directory level."""
    chunks = [tile_id[i:i + 8] for i in range(0, len(tile_id), 8)] or [""]
    return "/".join(chunks[:-1] + [f"r{chunks[-1]}{suffix}"])


def tiles_to_pnts_df(points_with_tiles: DataFrame,
                     include_rgb: bool = False) -> DataFrame:
    """(point_id, x, y, z[, r, g, b], tile_id) -> one row per tile:
    (tile_id, points_length, pnts binary). The pack runs as a grouped-map
    Arrow UDF — bytes are built executor-side, rows are tile-sized."""
    cols = ["r", "g", "b"] if include_rgb else []

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("point_id", kind="stable")
        xyz = pdf[["x", "y", "z"]].to_numpy(dtype=np.float32)
        rgb = pdf[cols].to_numpy(dtype=np.uint8) if cols else None
        return pd.DataFrame({
            "tile_id": [pdf["tile_id"].iat[0]],
            "points_length": [len(pdf)],
            "pnts": [encode_pnts(xyz, rgb)],
        })

    return points_with_tiles.groupBy("tile_id").applyInPandas(
        pack, schema="tile_id string, points_length long, pnts binary")


def relpath_to_name(path: str) -> str:
    """Inverse of name_to_relpath: '.../06/r63.pnts' -> '0663'."""
    parts = path.replace("\\", "/").split("/")
    tail = parts[-1]
    if not tail.endswith(".pnts"):
        raise ValueError(f"not a .pnts path: {path}")
    if not tail.startswith("r"):
        # third-party tileset (not reference-sharded): tile id = file stem
        return tail[:-len(".pnts")]
    name = tail[1:-len(".pnts")]
    # directory levels before the file are 8-char chunks of the prefix;
    # walk back while components look like octant chunks
    prefix = []
    for comp in parts[:-1][::-1]:
        if comp and len(comp) <= 8 and all(c in "01234567" for c in comp):
            prefix.append(comp)
        else:
            break
    return "".join(prefix[::-1]) + name


def pnts_scan(spark, root_dir: str) -> DataFrame:
    """S5: distributed pnts reader — spark.read.format('binaryFile') over
    r*.pnts + an Arrow-batched decode (reference TileContentReader,
    utils.py:15-32 + feature_table.py:208-265). One output row per point:
    (tile_id, point_idx, x, y, z, r, g, b)."""
    files = (spark.read.format("binaryFile")
             .option("pathGlobFilter", "*.pnts")
             .option("recursiveFileLookup", "true")
             .load(root_dir)
             .select("path", "content"))

    def decode(batches):
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                xyz, rgb, _ = decode_pnts(bytes(content))
                n = len(xyz)
                if rgb is None:
                    rgb = np.zeros((n, 3), dtype=np.uint8)
                yield pd.DataFrame({
                    "tile_id": relpath_to_name(path),
                    "point_idx": np.arange(n, dtype=np.int64),
                    "x": xyz[:, 0], "y": xyz[:, 1], "z": xyz[:, 2],
                    "r": rgb[:, 0].astype(np.int16),
                    "g": rgb[:, 1].astype(np.int16),
                    "b": rgb[:, 2].astype(np.int16)})

    return files.mapInPandas(
        decode, schema="tile_id string, point_idx long, x float, y float, "
                       "z float, r smallint, g smallint, b smallint")


def write_task_file(path: str, data) -> None:
    """Write `data` (bytes-like) to `path` from inside a Spark task: first
    to `<path>.<partition>-<attempt>.tmp`, then moved onto `path` with
    os.replace, so a killed task leaves no torn file under a final name
    and two attempts of one task never write the same file."""
    ctx = TaskContext.get()
    tmp = f"{path}.{ctx.partitionId()}-{ctx.attemptNumber()}.tmp"
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


def write_files(files: DataFrame, path_of) -> int:
    """Write each row of `files` (name string, data binary) to the file
    `path_of(name)` (write_task_file) and return the number of files
    written.

    Executor-side: one SQL Python stage (mapInArrow) writes a partition's
    files and yields their count, and one sum collects the counts, so file
    bytes never stream through the driver (the paths must be on a shared
    filesystem on a real cluster — local/NFS). Being a SQL stage, it runs
    in the session's one Python worker pool (see session.local_frame)."""
    def write(batches):
        n = 0
        for batch in batches:
            names = batch.column(0).to_pylist()
            data = batch.column(1)
            for i, name in enumerate(names):
                write_task_file(path_of(name), data[i].as_buffer())
            n += len(names)
        yield pa.RecordBatch.from_pydict({"n": pa.array([n], pa.int64())})

    written = files.mapInArrow(write, "n long").agg(F.sum("n")).collect()
    return int(written[0][0] or 0)


def write_pnts_files(pnts_df: DataFrame, out_dir: str) -> int:
    """Materialize r<name>.pnts files with reference sharding
    (write_files). Returns tiles written."""
    os.makedirs(out_dir, exist_ok=True)
    return write_files(
        pnts_df.select("tile_id", "pnts"),
        lambda name: os.path.join(out_dir, name_to_relpath(name)))
