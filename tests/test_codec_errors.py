"""Bad tile bytes raise ValueError from the codecs (never a bare assert,
which `python -O` strips, or a raw struct.error), and the `info`
subcommand reports them through the CLI's usage error."""

import os
import struct
import subprocess
import sys

import numpy as np
import pytest

from py3dtiles_spark.sources.b3dm import b3dm_bytes, glb_bytes, parse_b3dm
from py3dtiles_spark.sources.pnts import (
    PNTS_HEADER_LEN, decode_pnts, encode_pnts, relpath_to_name)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _pnts() -> bytes:
    return encode_pnts(np.arange(12, dtype=np.float32).reshape(4, 3))


def _b3dm() -> bytes:
    return b3dm_bytes(glb_bytes({"asset": {"version": "2.0"}}, b""))


def _with_version(buf: bytes, version: int) -> bytes:
    return buf[:4] + struct.pack("<I", version) + buf[8:]


CASES = [
    ("pnts-short-header", decode_pnts, lambda: _pnts()[:PNTS_HEADER_LEN - 1],
     "header needs 28 bytes"),
    ("pnts-magic", decode_pnts, lambda: b"pntz" + _pnts()[4:],
     "not a pnts tile"),
    ("pnts-version", decode_pnts, lambda: _with_version(_pnts(), 2),
     "unsupported pnts version 2"),
    ("pnts-length", decode_pnts, lambda: _pnts()[:-4],
     "declares .* bytes, buffer holds"),
    ("pnts-relpath", relpath_to_name, lambda: "out/06/r63.b3dm",
     "not a .pnts path"),
    ("b3dm-short-header", parse_b3dm, lambda: _b3dm()[:20],
     "header needs 28 bytes"),
    ("b3dm-magic", parse_b3dm, lambda: b"b3dx" + _b3dm()[4:],
     "not a b3dm tile"),
    ("b3dm-no-glb", parse_b3dm, lambda: _b3dm()[:30], "no glb chunk"),
]


@pytest.mark.parametrize("decode, make, msg",
                         [c[1:] for c in CASES], ids=[c[0] for c in CASES])
def test_bad_tile_raises_value_error(decode, make, msg):
    with pytest.raises(ValueError, match=msg):
        decode(make())


def test_info_reports_bad_pnts_under_optimize(tmp_path):
    """`python -O` strips asserts; the version check must still fire and
    reach the user as a CLI error naming the file."""
    bad = tmp_path / "bad.pnts"
    bad.write_bytes(_with_version(_pnts(), 2))
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, "-O", "-m", "py3dtiles_spark", "info", str(bad)],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert f"{bad}: unsupported pnts version 2" in proc.stderr
