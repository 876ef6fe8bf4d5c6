"""Codec-free media header probe.

`probe_media_bytes` reads a payload's container format and its image
dimensions or audio parameters (PNG, JPEG, GIF, BMP, WAV) by byte slicing
alone. No pixels or samples are decoded.
"""

from __future__ import annotations


def probe_media_bytes(payload: bytes) -> dict:
    """REAL (codec-free) container-header probe: format + dimensions /
    audio params straight from the byte layout — no image/audio library
    needed. Supports PNG (IHDR), JPEG (SOFn scan), GIF, BMP, WAV (RIFF
    chunk walk). Unknown formats -> format='unknown', fields None."""
    import struct as _s
    out = {"format": "unknown", "width": None, "height": None,
           "sample_rate": None, "channels": None, "duration_ms": None}
    b = payload
    if len(b) >= 24 and b[:8] == b"\x89PNG\r\n\x1a\n":
        w, h = _s.unpack(">II", b[16:24])
        out.update(format="png", width=w, height=h)
    elif len(b) >= 4 and b[:2] == b"\xff\xd8":
        out["format"] = "jpeg"
        i = 2
        while i + 9 < len(b):
            if b[i] != 0xFF:
                break
            marker = b[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            seglen = _s.unpack(">H", b[i + 2:i + 4])[0]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = _s.unpack(">HH", b[i + 5:i + 9])
                out.update(width=w, height=h)
                break
            i += 2 + seglen
    elif len(b) >= 10 and b[:6] in (b"GIF87a", b"GIF89a"):
        w, h = _s.unpack("<HH", b[6:10])
        out.update(format="gif", width=w, height=h)
    elif len(b) >= 26 and b[:2] == b"BM":
        w, h = _s.unpack("<ii", b[18:26])
        out.update(format="bmp", width=w, height=abs(h))
    elif (len(b) >= 12 and b[:4] == b"RIFF" and b[8:12] == b"WAVE"):
        out["format"] = "wav"
        i = 12
        rate = channels = bits = data_size = None
        while i + 8 <= len(b):
            cid = b[i:i + 4]
            csz = _s.unpack("<I", b[i + 4:i + 8])[0]
            if cid == b"fmt " and i + 24 <= len(b):
                channels, rate = _s.unpack("<HI", b[i + 10:i + 16])
                bits = _s.unpack("<H", b[i + 22:i + 24])[0]
            elif cid == b"data":
                data_size = csz
            i += 8 + csz + (csz & 1)
        if rate and channels and bits and data_size is not None:
            out.update(sample_rate=rate, channels=channels,
                       duration_ms=int(data_size * 8000
                                       / (rate * channels * bits)))
    return out
