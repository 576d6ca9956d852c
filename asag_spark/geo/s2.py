"""S2 cell ids from scratch (vectorized numpy).

Implements the public S2 geometry cell-id construction (Google's
s2geometry documentation / the CGAL-independent algorithm described in
"S2 cells" reference docs): lat/lng → unit XYZ → cube face + (u,v) →
quadratic (s,t) → leaf (i,j) at 2^30 → 64-bit Hilbert-curve cell id.
No s2geometry/s2sphere code is available in this container; tables are
generated at import from the published position/orientation recurrence.

Cell ids are canonical S2: face in the top 3 bits, Hilbert position,
trailing 1-bit marking the level. ``token`` matches S2's hex-token
convention (trailing zeros stripped).
"""

from __future__ import annotations

import numpy as np

LOOKUP_BITS = 4
SWAP_MASK = 0x01
INVERT_MASK = 0x02
MAX_LEVEL = 30

# Hilbert sub-cell traversal tables (public S2 construction)
_POS_TO_IJ = np.array(
    [[0, 1, 3, 2], [0, 2, 3, 1], [3, 2, 0, 1], [3, 1, 0, 2]], dtype=np.int64
)
_POS_TO_ORIENTATION = np.array(
    [SWAP_MASK, 0, 0, INVERT_MASK | SWAP_MASK], dtype=np.int64
)

_lookup_pos = np.zeros(1 << (2 * LOOKUP_BITS + 2), dtype=np.int64)
_lookup_ij = np.zeros(1 << (2 * LOOKUP_BITS + 2), dtype=np.int64)


def _init_lookup(level: int, i: int, j: int, orig_orientation: int,
                 pos: int, orientation: int) -> None:
    if level == LOOKUP_BITS:
        ij = (i << LOOKUP_BITS) + j
        _lookup_pos[(ij << 2) + orig_orientation] = (pos << 2) + orientation
        _lookup_ij[(pos << 2) + orig_orientation] = (ij << 2) + orientation
        return
    level += 1
    i <<= 1
    j <<= 1
    pos <<= 2
    r = _POS_TO_IJ[orientation]
    for index in range(4):
        ij = int(r[index])
        _init_lookup(
            level, i + (ij >> 1), j + (ij & 1), orig_orientation,
            pos + index, orientation ^ int(_POS_TO_ORIENTATION[index]),
        )


for _o in range(4):
    _init_lookup(0, 0, 0, _o, 0, _o)


def _face_uv(x: np.ndarray, y: np.ndarray, z: np.ndarray):
    """Largest-|component| cube face + (u,v) on it."""
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax >= np.maximum(ay, az), 0, np.where(ay >= az, 1, 2))
    major = np.choose(face, [x, y, z])
    face = np.where(major < 0, face + 3, face)
    with np.errstate(divide="ignore", invalid="ignore"):
        u = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4],
            [y / x, -x / y, -x / z, z / x, z / y],
            default=-y / z,
        )
        v = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4],
            [z / x, z / y, -y / z, y / x, -x / y],
            default=-x / z,
        )
    return face.astype(np.int64), u, v


def _st(u: np.ndarray) -> np.ndarray:
    """Quadratic uv→st projection (S2_QUADRATIC_PROJECTION)."""
    # single sqrt over |u|: 1-3u == 1+3|u| for u<0, and evaluating both
    # np.where branches would take sqrt of negatives (RuntimeWarning +
    # NaN path) for |u|>1/3
    s = 0.5 * np.sqrt(1.0 + 3.0 * np.abs(u))
    return np.where(u >= 0.0, s, 1.0 - s)


def leaf_cell_id(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """Canonical S2 leaf (level-30) cell ids as uint64."""
    lon_r = np.radians(np.asarray(lon, dtype=np.float64))
    lat_r = np.radians(np.asarray(lat, dtype=np.float64))
    cos_lat = np.cos(lat_r)
    x = cos_lat * np.cos(lon_r)
    y = cos_lat * np.sin(lon_r)
    z = np.sin(lat_r)
    face, u, v = _face_uv(x, y, z)
    max_ij = (1 << MAX_LEVEL) - 1
    i = np.clip((_st(u) * (1 << MAX_LEVEL)).astype(np.int64), 0, max_ij)
    j = np.clip((_st(v) * (1 << MAX_LEVEL)).astype(np.int64), 0, max_ij)

    n = face.astype(np.uint64) << np.uint64(60)
    bits = (face & SWAP_MASK).astype(np.int64)
    mask = (1 << LOOKUP_BITS) - 1
    for k in range(7, -1, -1):
        bits += ((i >> (k * LOOKUP_BITS)) & mask) << (LOOKUP_BITS + 2)
        bits += ((j >> (k * LOOKUP_BITS)) & mask) << 2
        bits = _lookup_pos[bits]
        n |= (bits >> 2).astype(np.uint64) << np.uint64(k * 2 * LOOKUP_BITS)
        bits &= SWAP_MASK | INVERT_MASK
    return n * np.uint64(2) + np.uint64(1)


def parent_id(cell_ids: np.ndarray, level: int) -> np.ndarray:
    """Parent cell at ``level`` (0..30) of leaf/finer cell ids."""
    ids = np.asarray(cell_ids, dtype=np.uint64)
    lsb = np.uint64(1) << np.uint64(2 * (MAX_LEVEL - level))
    return (ids & (~(lsb - np.uint64(1)))) | lsb


def cell_id_at(lon: np.ndarray, lat: np.ndarray, level: int) -> np.ndarray:
    return parent_id(leaf_cell_id(lon, lat), level)


_HEX_DIGITS = np.frombuffer(b"0123456789abcdef", dtype=np.uint8)


def token(cell_ids: np.ndarray) -> np.ndarray:
    """S2 hex tokens: 16-hex-digit id with trailing zeros stripped.
    Fully vectorized (byte→hex-digit table, no per-element format)."""
    ids = np.ascontiguousarray(np.asarray(cell_ids, dtype=np.uint64))
    b = ids.byteswap().view(np.uint8).reshape(-1, 8)
    chars = np.empty((len(ids), 16), dtype=np.uint8)
    chars[:, 0::2] = _HEX_DIGITS[b >> 4]
    chars[:, 1::2] = _HEX_DIGITS[b & 0xF]
    full = chars.view("S16").ravel().astype("U16")
    trimmed = np.char.rstrip(full, "0")
    out = np.where(trimmed == "", "X", trimmed)
    return out.astype(object)


def cell_level(cell_id: int) -> int:
    """Level from the trailing-bit position."""
    c = int(cell_id)
    lsb = c & (-c)
    return MAX_LEVEL - (lsb.bit_length() - 1) // 2


COVER_LEVELS = (10, 12, 14, 16)
