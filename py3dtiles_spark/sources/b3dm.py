"""b3dm / binary-glTF (glb) codec — byte-layout compatible with the
reference (gltf.py:13-38 glb container, gltf.py:96-318 header/body builder,
b3dm.py:75-123 28-byte b3dm header, batch_table.py:7-27 JSON batch table).

Golden-tested against the reference fixtures: tests/dragon_low.b3dm header
fields + glTF JSON, and the building.wkb -> b3dm byte-length build test
(reference tests/test_b3dm.py).
"""

from __future__ import annotations

import json
import struct

import numpy as np

B3DM_HEADER_LEN = 28
GLB_MAGIC = 0x46546C67


def gltf_header_json(bin_vertices: list, n_vertices: list, bboxes: list,
                     transform, batched: bool, batch_length: int,
                     textured: bool = False,
                     texture_uri: str | None = None) -> dict:
    """The glTF 2.0 JSON for batched position+normal(+uv) meshes — field-
    for-field the reference compute_header (gltf.py:153-318, both the
    untextured and textured branches; the textured body layout is
    positions | normals | uvs | batchids, uv bytes = 2/3 of positions)."""
    size_vce = [len(b) for b in bin_vertices]
    total = sum(size_vce)
    byte_length = 2 * total
    if textured:
        byte_length += int(round(2 * total / 3))
    if batched:
        byte_length += int(round(total / 3))

    buffer_views = [
        {"buffer": 0, "byteLength": total, "byteOffset": 0, "target": 34962},
        {"buffer": 0, "byteLength": total, "byteOffset": total,
         "target": 34962},
    ]
    if textured:
        buffer_views.append({"buffer": 0,
                             "byteLength": int(round(2 * total / 3)),
                             "byteOffset": 2 * total, "target": 34962})
    if batched:
        buffer_views.append({
            "buffer": 0,
            "byteLength": int(round(total / 3)),
            "byteOffset": (int(round(8 / 3 * total)) if textured
                           else 2 * total),
            "target": 34962})

    n_attrs = 3 if textured else 2
    accessors = []
    for i in range(len(bin_vertices)):
        bb = bboxes[i]
        accessors.append({
            "bufferView": 0, "byteOffset": sum(size_vce[:i]),
            "componentType": 5126, "count": n_vertices[i],
            # the reference swaps axes here (gltf.py:209-210): max from
            # bb[0], min from bb[1], component order (y, z, x)
            "max": [bb[0][1], bb[0][2], bb[0][0]],
            "min": [bb[1][1], bb[1][2], bb[1][0]],
            "type": "VEC3"})
        accessors.append({
            "bufferView": 1, "byteOffset": sum(size_vce[:i]),
            "componentType": 5126, "count": n_vertices[i],
            "max": [1, 1, 1], "min": [-1, -1, -1], "type": "VEC3"})
        if textured:
            # reference quirk preserved: uv count is the TOTAL vertex
            # count, not this mesh's (gltf.py:230-237)
            accessors.append({
                "bufferView": 2,
                "byteOffset": int(round(2 / 3 * sum(size_vce[:i]))),
                "componentType": 5126, "count": sum(n_vertices),
                "max": [1, 1], "min": [0, 0], "type": "VEC2"})
    if batched:
        accessors.append({
            "bufferView": 3 if textured else 2,
            "byteOffset": 0, "componentType": 5126,
            "count": n_vertices[0], "max": [batch_length], "min": [0],
            "type": "SCALAR"})

    meshes = []
    for i in range(len(bin_vertices)):
        meshes.append({"primitives": [{
            "attributes": {"POSITION": n_attrs * i,
                           "NORMAL": n_attrs * i + 1},
            "material": 0, "mode": 4}]})
        if textured:
            meshes[i]["primitives"][0]["attributes"]["TEXCOORD_0"] = \
                n_attrs * i + 2
    if batched:
        meshes[0]["primitives"][0]["attributes"]["_BATCHID"] = n_attrs

    materials = [{"pbrMetallicRoughness": {"metallicFactor": 0},
                  "name": "Material"}]
    header = {
        "asset": {"generator": "py3dtiles", "version": "2.0"},
        "scene": 0,
        "scenes": [{"nodes": list(range(len(bin_vertices)))}],
        "nodes": [{"matrix": [float(e) for e in transform], "mesh": i}
                  for i in range(len(bin_vertices))],
        "meshes": meshes,
        "materials": materials,
        "accessors": accessors,
        "bufferViews": buffer_views,
        "buffers": [{"byteLength": byte_length}],
    }
    if textured:
        header["textures"] = [{"sampler": 0, "source": 0}]
        header["images"] = [{"uri": texture_uri}]
        header["samplers"] = [{"magFilter": 9729, "minFilter": 9987,
                               "wrapS": 10497, "wrapT": 10497}]
        materials[0]["pbrMetallicRoughness"]["baseColorTexture"] = \
            {"index": 0}
    return header


def glb_bytes(header: dict, body: bytes) -> bytes:
    """glTF 2.0 binary container (reference GlTF.to_array, gltf.py:13-38)."""
    scene = json.dumps(header, separators=(",", ":"))
    scene += " " * ((4 - len(scene) % 4) % 4)
    pad = (4 - len(body) % 4) % 4
    length = 28 + len(body) + len(scene) + pad
    return (struct.pack("<III", GLB_MAGIC, 2, length)
            + struct.pack("<II", len(scene), 0x4E4F534A)
            + scene.encode("utf-8")
            + struct.pack("<II", len(body) + pad, 0x004E4942)
            + body + b"\x00" * pad)


def gltf_from_arrays(arrays: list, transform, batched: bool = True,
                     texture_uri: str | None = None) -> bytes:
    """arrays: [{'position': bytes, 'normal': bytes, 'bbox': [[..],[..]],
    optional 'uv': bytes}] -> glb bytes (reference GlTF.from_binary_arrays,
    gltf.py:75-141 — textured when the first geometry carries 'uv')."""
    textured = "uv" in arrays[0]
    bin_v = [a["position"] for a in arrays]
    bin_n = [a["normal"] for a in arrays]
    bin_uv = [a["uv"] for a in arrays] if textured else []
    n_vertices = [round(len(p) / 12) for p in bin_v]
    bboxes = [a["bbox"] for a in arrays]
    batch_length = 0
    bin_ids = []
    if batched:
        bin_ids = [np.full(n, i, dtype=np.float32).tobytes()
                   for i, n in enumerate(n_vertices)]
        mins = np.min([b[0] for b in bboxes], axis=0).tolist()
        maxs = np.max([b[1] for b in bboxes], axis=0).tolist()
        bboxes = [[mins, maxs]]
        bin_v = [b"".join(bin_v)]
        bin_n = [b"".join(bin_n)]
        bin_uv = [b"".join(bin_uv)] if textured else []
        bin_ids = [b"".join(bin_ids)]
        n_vertices = [sum(n_vertices)]
        batch_length = len(arrays)
    header = gltf_header_json(bin_v, n_vertices, bboxes, transform,
                              batched, batch_length, textured=textured,
                              texture_uri=texture_uri)
    # body layout: positions | normals | uvs | batchids (gltf.py:144-149)
    body = (b"".join(bin_v) + b"".join(bin_n) + b"".join(bin_uv)
            + b"".join(bin_ids))
    return glb_bytes(header, body)


def batch_table_bytes(properties: dict) -> bytes:
    """JSON-only batch table, 4-byte space-padded (batch_table.py:20-27)."""
    bt = json.dumps(properties, separators=(",", ":"))
    bt += " " * (4 - len(bt) % 4)
    return bt.encode("utf-8")


def b3dm_bytes(glb: bytes, batch_table: dict | None = None) -> bytes:
    """28-byte b3dm header + [batch table JSON] + glb
    (reference B3dmHeader.sync + to_array, b3dm.py:75-123)."""
    bt = batch_table_bytes(batch_table) if batch_table else b""
    total = B3DM_HEADER_LEN + len(bt) + len(glb)
    header = struct.pack("<4sIIIIII", b"b3dm", 1, total, 0, 0, len(bt), 0)
    return header + bt + glb


def parse_b3dm(buf: bytes) -> dict:
    """Decode a b3dm tile: header fields + glTF JSON header (+ft/bt JSON).
    Read-side S5 operator; handles legacy tiles with feature-table JSON.
    Raises ValueError on a short header, wrong magic or missing glb."""
    if len(buf) < B3DM_HEADER_LEN:
        raise ValueError(f"b3dm header needs {B3DM_HEADER_LEN} bytes, "
                         f"got {len(buf)}")
    magic, version, total, ftj, ftb, btj, btb = struct.unpack(
        "<4sIIIIII", buf[:B3DM_HEADER_LEN])
    if magic != b"b3dm":
        raise ValueError(f"not a b3dm tile: magic {magic!r}")
    off = B3DM_HEADER_LEN
    ft = json.loads(buf[off:off + ftj]) if ftj else None
    off += ftj + ftb
    bt = json.loads(buf[off:off + btj]) if btj else None
    off += btj + btb
    glb = buf[off:]
    if len(glb) < 16:
        raise ValueError("no glb chunk")
    g_magic, g_version, g_len, json_len = struct.unpack("<IIII", glb[:16])
    if g_magic != GLB_MAGIC:
        raise ValueError("no glb chunk")
    # glTF 1.0 (dragon_low fixture) and 2.0 both put the JSON at byte 20
    gltf = json.loads(glb[20:20 + json_len])
    return {"version": version, "tile_byte_length": total,
            "ft_json_byte_length": ftj, "ft_bin_byte_length": ftb,
            "bt_json_byte_length": btj, "bt_bin_byte_length": btb,
            "gltf_header": gltf, "glb_version": g_version}
