"""Minimal vendored YUV4MPEG2 (.y4m) container parser + encoder —
the unconditional real-decode route for VIDEO, the way the vendored
PNG/JPEG codecs serve images and the WAV parser serves audio (r15
verdict "What's missing" #4).

Y4M is the simplest real video container in the wild (mjpegtools /
ffmpeg's uncompressed interchange format): one ASCII stream header
``YUV4MPEG2 W<w> H<h> F<num>:<den> ... \\n`` then per frame an ASCII
``FRAME[ params]\\n`` marker followed by raw planar YUV. No
entropy coding, so a clean-room parser is small and byte-exact on
every environment — the perceptual-hash stability property the
vendored image codecs exist for. Spec: the yuv4mpeg(5) man page
(public, mjpegtools).

Only the LUMA plane is read (perceptual hashing wants grayscale
anyway); chroma planes are skipped by size. Supported colorspaces
cover everything ffmpeg emits for 8-bit content: C420*, C422, C444,
Cmono.

The reference (paradigmxyz/cryo) has no media operators — §2.12
extension tier.
"""

from __future__ import annotations

MAGIC = b"YUV4MPEG2"

#: chroma-plane bytes per luma pixel (luma itself is 1 byte/px)
_CHROMA_FACTOR = {
    "420": 0.5, "420jpeg": 0.5, "420mpeg2": 0.5, "420paldv": 0.5,
    "422": 1.0, "444": 2.0, "mono": 0.0,
}


def is_y4m(data: bytes | None) -> bool:
    return data is not None and bytes(data[:9]) == MAGIC


def parse_header(data: bytes) -> dict:
    """{'width','height','fps_num','fps_den','colorspace','offset'}
    — ``offset`` is the byte position of the first FRAME marker."""
    if not is_y4m(data):
        raise ValueError("not a YUV4MPEG2 stream (missing magic)")
    nl = data.find(b"\n")
    if nl < 0:
        raise ValueError("truncated y4m: no stream-header newline")
    fields = bytes(data[len(MAGIC):nl]).decode("ascii", "replace").split()
    w = h = None
    num, den = 25, 1
    cs = "420jpeg"  # the spec's default when no C tag is present
    for f in fields:
        if not f:
            continue
        tag, val = f[0], f[1:]
        if tag == "W":
            w = int(val)
        elif tag == "H":
            h = int(val)
        elif tag == "F":
            n, d = val.split(":")
            num, den = int(n), int(d)
        elif tag == "C":
            cs = val
    if not w or not h:
        raise ValueError("y4m header missing W/H")
    base = cs.rstrip("p")  # C420p? forms normalize; 8-bit only
    key = "mono" if base.startswith("mono") else base
    if key not in _CHROMA_FACTOR:
        raise ValueError(
            f"unsupported y4m colorspace C{cs} — supported: "
            f"{sorted('C' + k for k in _CHROMA_FACTOR)}"
        )
    return {
        "width": w, "height": h, "fps_num": num, "fps_den": den,
        "colorspace": key, "offset": nl + 1,
    }


def _frame_bytes(hdr: dict) -> int:
    luma = hdr["width"] * hdr["height"]
    return luma + int(luma * _CHROMA_FACTOR[hdr["colorspace"]])


def n_frames(data: bytes) -> int:
    """Count frames by walking the FRAME markers (pointer hops, no
    copies)."""
    hdr = parse_header(data)
    fb = _frame_bytes(hdr)
    pos, n = hdr["offset"], 0
    ln = len(data)
    while pos < ln:
        nl = data.find(b"\n", pos)
        if nl < 0 or bytes(data[pos:pos + 5]) != b"FRAME":
            break
        if nl + 1 + fb > ln:
            break  # truncated tail frame
        n += 1
        pos = nl + 1 + fb
    return n


def frame_offsets(data: bytes) -> list[int]:
    """Absolute offset of each frame's LUMA plane (the byte after the
    FRAME header's newline) — ONE sequential walk. For samplers that
    index many ordinals into the same payload: per-ordinal
    :func:`frame_luma` walks from the start each time (O(frames) per
    call), so a 32-sample pass over one clip would scan the stream 32
    times; an offsets index makes every later lookup a slice."""
    hdr = parse_header(data)
    fb = _frame_bytes(hdr)
    pos = hdr["offset"]
    ln = len(data)
    out: list[int] = []
    while pos < ln:
        nl = data.find(b"\n", pos)
        if nl < 0 or bytes(data[pos:pos + 5]) != b"FRAME":
            break
        if nl + 1 + fb > ln:
            break  # truncated tail frame
        out.append(nl + 1)
        pos = nl + 1 + fb
    return out


def frame_luma(data: bytes, frame_no: int) -> bytes | None:
    """The luma plane of frame ``frame_no`` (raster order, one byte
    per pixel), or None past the end. Sequential marker walk — frame
    headers may carry per-frame params, so offsets are not assumed
    constant; the walk is pointer arithmetic only (the single copy is
    the returned luma slice)."""
    hdr = parse_header(data)
    fb = _frame_bytes(hdr)
    luma = hdr["width"] * hdr["height"]
    pos = hdr["offset"]
    ln = len(data)
    k = 0
    while pos < ln:
        nl = data.find(b"\n", pos)
        if nl < 0 or bytes(data[pos:pos + 5]) != b"FRAME":
            return None
        if nl + 1 + fb > ln:
            return None
        if k == frame_no:
            return bytes(data[nl + 1:nl + 1 + luma])
        k += 1
        pos = nl + 1 + fb
    return None


def encode_y4m(
    width: int,
    height: int,
    luma_frames: list[bytes],
    fps: tuple[int, int] = (25, 1),
    colorspace: str = "mono",
) -> bytes:
    """Deterministic encoder for tests/fixtures. ``colorspace='mono'``
    writes luma only; '420jpeg' pads each frame with mid-gray (0x80)
    chroma planes — enough to exercise the chroma-skip arithmetic."""
    if colorspace not in _CHROMA_FACTOR:
        raise ValueError(f"unsupported colorspace {colorspace!r}")
    head = (
        f"YUV4MPEG2 W{width} H{height} F{fps[0]}:{fps[1]} Ip A1:1 "
        f"C{colorspace}\n"
    ).encode("ascii")
    chroma = b"\x80" * int(width * height * _CHROMA_FACTOR[colorspace])
    out = [head]
    for y in luma_frames:
        if len(y) != width * height:
            raise ValueError(
                f"luma frame has {len(y)} bytes, expected "
                f"{width * height}"
            )
        out.append(b"FRAME\n")
        out.append(bytes(y))
        out.append(chroma)
    return b"".join(out)
