"""S2 cell encoding — pure-numpy implementation of the public S2 geometry scheme.

Implements the published S2 algorithm (s2geometry.io): lat/lon -> unit XYZ ->
cube face -> (u,v) -> quadratic ST transform -> leaf (i,j) at level 30 ->
Hilbert-curve position -> 64-bit cell id with the trailing-1 level marker.
No s2 wheel exists in this environment (SURVEY.md §7.0), so the kernel is
numpy end-to-end and exposed to Spark as an Arrow-batched pandas UDF.

Reference behavioral anchor: the stac-to-geocore reference has no spatial
index at all (its only geometry op is bbox->ring at stac_to_geocore.py:176-186);
S2 is part of the north-star extension (BASELINE.json north_rule).

Known-answer checks used in tests (derivable from the scheme definition):
  (0,0)   -> face 0 center: level-0 id 0x1000000000000000, leaf 0x1000000000000001
  (0,90)  -> face 1, (90,*) -> face 2, (0,180) -> face 3, (0,-90) -> face 4,
  (-90,*) -> face 5.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from stac_to_geocore_spark.cells.h3x import _latlon_to_xyz, _session_cache_key

MAX_LEVEL = 30

# Hilbert curve traversal tables (canonical S2 ordering).
# _POS_TO_IJ[orientation][position] = ij; _IJ_TO_POS is the row-wise inverse.
_POS_TO_IJ = np.array(
    [[0, 1, 3, 2], [0, 2, 3, 1], [3, 2, 0, 1], [3, 1, 0, 2]], dtype=np.int64
)
_IJ_TO_POS = np.array(
    [[0, 1, 3, 2], [0, 3, 1, 2], [2, 3, 1, 0], [2, 1, 3, 0]], dtype=np.int64
)
_SWAP_MASK = 1
_INVERT_MASK = 2
_POS_TO_ORIENTATION = np.array([_SWAP_MASK, 0, 0, _SWAP_MASK | _INVERT_MASK], dtype=np.int64)


def _xyz_to_face_uv(x: np.ndarray, y: np.ndarray, z: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(ax >= ay, np.where(ax >= az, 0, 2), np.where(ay >= az, 1, 2)).astype(np.int64)
    comp = np.choose(face, [x, y, z])
    face = np.where(comp < 0, face + 3, face)

    u = np.empty_like(x)
    v = np.empty_like(x)
    for f, (ue, ve, de) in enumerate(
        [
            (lambda: y / x, lambda: z / x, None),      # face 0 (+x)
            (lambda: -x / y, lambda: z / y, None),     # face 1 (+y)
            (lambda: -x / z, lambda: -y / z, None),    # face 2 (+z)
            (lambda: z / x, lambda: y / x, None),      # face 3 (-x)
            (lambda: z / y, lambda: -x / y, None),     # face 4 (-y)
            (lambda: -y / z, lambda: -x / z, None),    # face 5 (-z)
        ]
    ):
        m = face == f
        if m.any():
            with np.errstate(divide="ignore", invalid="ignore"):
                u[m] = ue()[m]
                v[m] = ve()[m]
    return face, u, v


def _uv_to_st(u: np.ndarray) -> np.ndarray:
    # S2's quadratic projection (area-uniformizing). abs() keeps the unused
    # np.where branch out of sqrt's invalid domain.
    root = 0.5 * np.sqrt(1.0 + 3.0 * np.abs(u))
    return np.where(u >= 0, root, 1.0 - root)


def _st_to_ij(s: np.ndarray) -> np.ndarray:
    return np.clip(np.floor(s * (1 << MAX_LEVEL)), 0, (1 << MAX_LEVEL) - 1).astype(np.int64)


_BLOCK = 5  # levels per blocked step (30 = 6 x 5)


def _build_block_tables(levels: int):
    """Precompute the Hilbert walk over `levels` levels at once:
    pos_t[orientation, interleaved_ij_bits] -> 2*levels position bits,
    or_t[...] -> orientation after the block. Built by running the
    canonical 1-level tables, so the blocked walk is BIT-IDENTICAL to the
    per-level walk — it just does 1/levels as many vector gathers."""
    size = 4 ** levels
    pos_t = np.zeros((4, size), np.int64)
    or_t = np.zeros((4, size), np.int64)
    for o in range(4):
        for inp in range(size):
            n = 0
            oo = o
            for lv in range(levels - 1, -1, -1):
                ij = (inp >> (2 * lv)) & 3
                p = int(_IJ_TO_POS[oo, ij])
                n = (n << 2) | p
                oo ^= int(_POS_TO_ORIENTATION[p])
            pos_t[o, inp] = n
            or_t[o, inp] = oo
    return pos_t, or_t


_POS_BLK, _OR_BLK = _build_block_tables(_BLOCK)
# interleave[(i_bits << BLOCK) | j_bits] -> sequence of 2-bit ij codes,
# most-significant level first (ij = i_bit<<1 | j_bit)
_ILV = np.zeros(4 ** _BLOCK, np.int64)
for _ib in range(2 ** _BLOCK):
    for _jb in range(2 ** _BLOCK):
        v = 0
        for _lv in range(_BLOCK - 1, -1, -1):
            v = (v << 2) | ((((_ib >> _lv) & 1) << 1) | ((_jb >> _lv) & 1))
        _ILV[(_ib << _BLOCK) | _jb] = v
_BLK_MASK = (1 << _BLOCK) - 1


def _face_ij_to_leaf(face: np.ndarray, i: np.ndarray, j: np.ndarray) -> np.ndarray:
    """Vectorized Hilbert walk, 5 levels per step via precomputed block
    tables (bit-identical to the canonical per-level walk; 6 gather rounds
    instead of 30 — the walk was the s2 encode's hot loop)."""
    n = face.astype(np.uint64)
    orientation = (face & _SWAP_MASK).astype(np.int64)
    for kb in range(MAX_LEVEL // _BLOCK - 1, -1, -1):
        base = _BLOCK * kb
        inp = _ILV[(((i >> base) & _BLK_MASK) << _BLOCK) | ((j >> base) & _BLK_MASK)]
        pos = _POS_BLK[orientation, inp]
        n = (n << np.uint64(2 * _BLOCK)) | pos.astype(np.uint64)
        orientation = _OR_BLK[orientation, inp]
    return ((n << np.uint64(1)) | np.uint64(1)).astype(np.int64)  # two's-complement int64 view


def s2_encode_xyz_np(x: np.ndarray, y: np.ndarray, z: np.ndarray, level: int = 12) -> np.ndarray:
    """Unit-sphere xyz -> S2 cell id at `level` (the shared-projection entry
    point: fused multi-encoder kernels compute xyz once and feed every
    cell system from it)."""
    if not 0 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be in [0, {MAX_LEVEL}]")
    face, u, v = _xyz_to_face_uv(x, y, z)
    i = _st_to_ij(_uv_to_st(u))
    j = _st_to_ij(_uv_to_st(v))
    return s2_parent_np(_face_ij_to_leaf(face, i, j), level)


def s2_encode_np(lat_deg: np.ndarray, lon_deg: np.ndarray, level: int = 12) -> np.ndarray:
    """lat/lon degrees -> S2 cell id (int64 two's-complement view) at `level`."""
    xyz = _latlon_to_xyz(np.asarray(lat_deg, dtype=np.float64), np.asarray(lon_deg, dtype=np.float64))
    return s2_encode_xyz_np(xyz[..., 0], xyz[..., 1], xyz[..., 2], level)


def s2_parent_np(cell: np.ndarray, level: int) -> np.ndarray:
    """Parent at a coarser level — pure bit math (prefix truncation; the
    identity at MAX_LEVEL)."""
    c = np.asarray(cell).view(np.uint64)
    lsb = np.uint64(1) << np.uint64(2 * (MAX_LEVEL - level))
    return ((c & ~(np.uint64(2) * lsb - np.uint64(1))) | lsb).view(np.int64)


def s2_encode(lat: Column, lon: Column, level: int = 12) -> Column:
    """Spark column: S2 cell id at `level` through the session's s2_encode
    UDF (sql_functions.cell_udfs, shared with SQL); a NULL or NaN
    coordinate gives NULL."""
    from stac_to_geocore_spark.sql_functions import cell_udfs

    return cell_udfs(_session_cache_key())["s2_encode"](lat, lon, F.lit(level))
