"""H3-style icosahedral aperture-7 hex-grid cell index — pure numpy.

Implements the published H3 indexing *scheme* (icosahedral gnomonic face
projection -> aperture-7 hex lattice -> packed 64-bit cell id) from first
principles:

- The icosahedron is constructed programmatically from the golden-ratio
  vertex coordinates and faces are ordered canonically, so every id is
  deterministic across runs and machines.
- Resolution r's lattice is the Eisenstein-integer lattice scaled by
  (2 + tau)^r with tau = e^{i*pi/3}; |2+tau|^2 = 7 gives the aperture-7
  subdivision and the classic ~19.1 deg Class-III rotation per level,
  exactly as in the H3 paper.
- The hierarchy is TRUE aperture-7: parent/children are exact
  Eisenstein-integer lattice division/multiplication by (2+tau) (each cell
  has exactly 7 children that round back to it — no float re-encode), so
  multi-res rollups (h3_parent) are exact.
- Cells at face boundaries are clipped to the face's Voronoi region (each
  point maps to the max-dot face, then to that face's lattice). This yields
  a deterministic total partition of the sphere; unlike Uber's library we do
  not stitch boundary hexes across faces (the env has no h3 wheel to borrow
  or validate Uber's 122-base-cell tables — SURVEY.md §7.0), so ids follow
  the H3 *bit-layout spirit* but are not bit-identical to Uber H3. All
  engine semantics (hierarchy, covers, joins) are internally
  consistent and invariant-tested.

Id layout (63 bits used):
  [4 bits mode=1][4 bits res][5 bits face][25 bits a+OFF][25 bits b+OFF]
where (a, b) are axial lattice coordinates on the face plane.

Reference anchor: the stac-to-geocore reference has no spatial index; its
geometry handling is bbox->ring (stac_to_geocore.py:176-186). H3 encoding is
the north-star extension (BASELINE.json: "encodes item/footprint geometries
into H3 (res 5-9) ... via vectorized pandas/Arrow UDFs").
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column

# --- icosahedron construction (deterministic, golden ratio) ---


def _build_icosahedron() -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    phi = (1.0 + math.sqrt(5.0)) / 2.0
    verts = []
    for a in (-1.0, 1.0):
        for b in (-phi, phi):
            verts += [(0.0, a, b), (a, b, 0.0), (b, 0.0, a)]
    v = np.array(verts, dtype=np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)

    # adjacency: minimum pairwise angular distance
    dots = v @ v.T
    np.fill_diagonal(dots, -2.0)
    adj_dot = dots.max()  # ~= 1/sqrt(5)
    faces = []
    n = len(v)
    for i in range(n):
        for j in range(i + 1, n):
            if abs(dots[i, j] - adj_dot) > 1e-9:
                continue
            for k in range(j + 1, n):
                if abs(dots[i, k] - adj_dot) < 1e-9 and abs(dots[j, k] - adj_dot) < 1e-9:
                    faces.append((i, j, k))
    assert len(faces) == 20, f"icosahedron build failed: {len(faces)} faces"

    centers = np.array([(v[i] + v[j] + v[k]) / 3.0 for i, j, k in faces])
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    # canonical face order: by (-z, atan2(y, x)) of the center, rounded
    key = [(-round(c[2], 9), round(math.atan2(c[1], c[0]), 9)) for c in centers]
    order = sorted(range(20), key=lambda f: key[f])
    centers = centers[order]

    # per-face orthonormal tangent basis (deterministic: e1 from first vertex)
    e1s, e2s = [], []
    for fi, f in enumerate(order):
        i, _, _ = faces[f]
        c = centers[fi]
        w = v[i] - np.dot(v[i], c) * c
        e1 = w / np.linalg.norm(w)
        e2 = np.cross(c, e1)
        e1s.append(e1)
        e2s.append(e2)
    return centers, np.array(e1s), np.array(e2s), v


_FACE_CENTERS, _FACE_E1, _FACE_E2, _VERTS = _build_icosahedron()

# res-0 lattice spacing on the gnomonic plane (radian-like units near face
# center). Same magnitude H3 uses for its res-0 scale; exact value only needs
# to be fixed and generous enough that res-0 hexes tile a face.
RES0_SPACING = 0.38196601125010500003
_TAU = complex(0.5, math.sqrt(3.0) / 2.0)  # e^{i pi/3}
_APERTURE = 2.0 + _TAU  # |.|^2 == 7 -> sqrt(7) scale + 19.1deg rotation per res

MIN_RES, MAX_RES = 0, 12
_OFF = 1 << 24  # axial coordinate offset (25-bit field)
_MODE = 1

# per-res complex lattice transform: plane_xy * _RES_XFORM[r] = lattice coords
_RES_XFORM = np.array([(_APERTURE**r) / RES0_SPACING for r in range(MAX_RES + 1)], dtype=np.complex128)


def res_spacing(res: int) -> float:
    """Center-to-center lattice spacing (gnomonic plane units ~ radians)."""
    return RES0_SPACING / (7.0 ** (res / 2.0))


def _latlon_to_xyz(lat_deg: np.ndarray, lon_deg: np.ndarray) -> np.ndarray:
    lat = np.radians(lat_deg)
    lon = np.radians(lon_deg)
    cl = np.cos(lat)
    return np.stack([cl * np.cos(lon), cl * np.sin(lon), np.sin(lat)], axis=-1)


def _xyz_to_latlon(xyz: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    lat = np.degrees(np.arcsin(np.clip(xyz[..., 2], -1.0, 1.0)))
    lon = np.degrees(np.arctan2(xyz[..., 1], xyz[..., 0]))
    return lat, lon


def _xyz_to_face_plane(xyz: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Max-dot face selection + gnomonic projection to that face's tangent
    plane. The plane coordinate is computed directly as
    x = (xyz . e1) / (xyz . c): the tangent basis is orthogonal to the face
    center (c . e1 = c . e2 = 0), so projecting the ray point p = xyz/scale
    and subtracting c — round 2's formulation — is algebraically identical
    but materializes two full (n, 3) temporaries the direct form skips
    (~30% of the encode kernel)."""
    dots = xyz @ _FACE_CENTERS.T
    face = np.argmax(dots, axis=-1)
    scale = np.take_along_axis(dots, face[..., None], -1)[..., 0]  # xyz . c
    x = np.einsum("...k,...k->...", xyz, _FACE_E1[face]) / scale
    y = np.einsum("...k,...k->...", xyz, _FACE_E2[face]) / scale
    return face, x + 1j * y


def _plane_to_xyz(face: np.ndarray, z: np.ndarray) -> np.ndarray:
    p = (
        _FACE_CENTERS[face]
        + z.real[..., None] * _FACE_E1[face]
        + z.imag[..., None] * _FACE_E2[face]
    )
    return p / np.linalg.norm(p, axis=-1, keepdims=True)


def _hex_round(af: np.ndarray, bf: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Nearest lattice point in axial coords (cube rounding)."""
    cf = -af - bf
    ra, rb, rc = np.rint(af), np.rint(bf), np.rint(cf)
    da, db, dc = np.abs(ra - af), np.abs(rb - bf), np.abs(rc - cf)
    fix_a = (da >= db) & (da >= dc)
    fix_b = ~fix_a & (db >= dc)
    ra = np.where(fix_a, -rb - rc, ra)
    rb = np.where(fix_b, -ra - rc, rb)
    return ra.astype(np.int64), rb.astype(np.int64)


def _lattice_ab(z_plane: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    zl = z_plane * _RES_XFORM[res]
    bf = zl.imag / _TAU.imag
    af = zl.real - 0.5 * bf
    return _hex_round(af, bf)


def _pack(face: np.ndarray, a: np.ndarray, b: np.ndarray, res: int) -> np.ndarray:
    return (
        (np.int64(_MODE) << np.int64(59))
        | (np.int64(res) << np.int64(55))
        | (face.astype(np.int64) << np.int64(50))
        | ((a + _OFF).astype(np.int64) << np.int64(25))
        | (b + _OFF).astype(np.int64)
    )


def h3_unpack(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    c = np.asarray(cell, dtype=np.int64)
    res = (c >> np.int64(55)) & np.int64(0xF)
    face = (c >> np.int64(50)) & np.int64(0x1F)
    a = ((c >> np.int64(25)) & np.int64(0x1FFFFFF)) - _OFF
    b = (c & np.int64(0x1FFFFFF)) - _OFF
    return face, a, b, res


def h3_encode_multi_np(xyz: np.ndarray, res_list: list[int]) -> list[np.ndarray]:
    """Unit-sphere xyz -> cell ids at SEVERAL resolutions with one face
    selection + one gnomonic projection (the shared-projection entry point
    for fused encode kernels: face/plane work dominates, lattice rounding
    per extra res is cheap)."""
    for res in res_list:
        if not MIN_RES <= res <= MAX_RES:
            raise ValueError(f"res must be in [{MIN_RES}, {MAX_RES}]")
    face, zp = _xyz_to_face_plane(xyz)
    out = []
    for res in res_list:
        a, b = _lattice_ab(zp, res)
        out.append(_pack(face, a, b, res))
    return out


def h3_encode_np(lat_deg, lon_deg, res: int) -> np.ndarray:
    """lat/lon degrees -> cell id at resolution `res` (vectorized)."""
    xyz = _latlon_to_xyz(np.asarray(lat_deg, np.float64), np.asarray(lon_deg, np.float64))
    return h3_encode_multi_np(xyz, [res])[0]


def h3_center_np(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Cell id -> center lat/lon degrees (inverse gnomonic of the lattice point)."""
    face, a, b, res = h3_unpack(cell)
    # all cells in one call may have mixed res; handle via per-res transform
    zl = a.astype(np.float64) + b.astype(np.float64) * _TAU
    zp = zl / _RES_XFORM[res]
    return _xyz_to_latlon(_plane_to_xyz(face, zp))


# --- true aperture-7 hierarchy (exact Eisenstein-integer lattice math) ---
#
# The res-(r+1) lattice is the res-r lattice multiplied by (2 + tau) in the
# Eisenstein integers Z[tau] (tau^2 = tau - 1, |2+tau|^2 = 7). Hence:
#
#   child center of c with digit d:  c*(2+tau) + d,  d in {0} u units
#   parent of z:                     hexround(z / (2+tau))
#                                    = hexround(z * (3-tau) / 7)
#
# In axial coords (z = a + b*tau):
#   z*(2+tau) = (2a - b) + (a + 3b) tau
#   z*(3-tau) = (3a + b) + (2b - a) tau
#
# Every child center satisfies |d/(2+tau)| = 1/sqrt(7) ~ 0.378 < 0.5 (the
# hex Voronoi inradius in lattice units), so all 7 children round back to
# their parent — parent/children are exact inverses, no float re-encode.

# the 7 aperture-7 digits in axial (da, db): 0 plus the six Eisenstein units
_DIGITS = np.array([(0, 0), (1, 0), (0, 1), (-1, 1), (-1, 0), (0, -1), (1, -1)], dtype=np.int64)


def _parent_ab(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """One-level-coarser axial coords: hexround((a + b*tau) / (2+tau))."""
    return _hex_round((3.0 * a + b) / 7.0, (2.0 * b - a) / 7.0)


def h3_parent_np(cell: np.ndarray, parent_res: int) -> np.ndarray:
    """Exact aperture-7 parent at `parent_res` (integer lattice division,
    level by level; supports mixed input resolutions >= parent_res)."""
    cell = np.atleast_1d(np.asarray(cell, dtype=np.int64))
    face, a, b, res = h3_unpack(cell)
    if (res < parent_res).any():
        raise ValueError("cell res below requested parent_res")
    res = res.copy()
    while True:
        m = res > parent_res
        if not m.any():
            break
        pa, pb = _parent_ab(a[m], b[m])
        a[m], b[m] = pa, pb
        res[m] -= 1
    return _pack(face, a, b, parent_res)


def h3_children_np(cell: np.ndarray) -> np.ndarray:
    """The 7 res+1 children of each cell, shape (n, 7). children[:, 0] is
    the center child; h3_parent_np(children, res) round-trips exactly."""
    cell = np.atleast_1d(np.asarray(cell, dtype=np.int64))
    face, a, b, res = h3_unpack(cell)
    r0 = int(res[0])
    if not (res == r0).all():
        raise ValueError("mixed resolutions in one children call")
    if r0 >= MAX_RES:
        raise ValueError(f"children beyond MAX_RES={MAX_RES}")
    ca = (2 * a - b)[:, None] + _DIGITS[None, :, 0]
    cb = (a + 3 * b)[:, None] + _DIGITS[None, :, 1]
    face7 = np.broadcast_to(face[:, None], ca.shape)
    return _pack(face7, ca, cb, r0 + 1)


# --- Spark surface: the session's cell UDFs (sql_functions.cell_udfs) ---


def h3_parent(cell: Column, parent_res: int) -> Column:
    """Column form of the exact aperture-7 parent — the key for multi-res
    rollups (aggregate at fine res once, roll up to any coarser res with a
    map-side re-key instead of re-scanning the raw table). A -1 cell (no
    cell, see h3_encode) stays -1."""
    from pyspark.sql.functions import coalesce, lit

    from stac_to_geocore_spark.sql_functions import cell_udfs

    return coalesce(cell_udfs(_session_cache_key())["h3_parent"](cell, lit(parent_res)), lit(-1))


def _session_cache_key():
    """Part of every UDF-cache key: pyspark memoizes UserDefinedFunction._judf
    against the JVM of the session that first used it, so a UDF cached across
    a session restart would hold a dead-JVM handle. Keyed by
    (applicationId, startTime) — stable for the life of a context and never
    reused by a successor, unlike id(sparkContext), whose CPython id CAN be
    reused after GC and collide a new context with a dead-JVM cache entry."""
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is None:
        return None
    sc = s.sparkContext
    return (sc.applicationId, sc.startTime)


def h3_encode(lat: Column, lon: Column, res: int) -> Column:
    """Column form of h3_encode_np; a NULL or NaN coordinate gives -1."""
    from pyspark.sql.functions import coalesce, lit

    from stac_to_geocore_spark.sql_functions import cell_udfs

    # the UDF result is nullable, and Catalyst can't see past it: when the
    # encoded cell is a join key, the inferred isnotnull(key) filter gets
    # pushed below the projection and forces a SECOND ArrowEvalPython pass
    # per row. coalesce(-1) makes the expression provably non-nullable so
    # the inferred filter is pruned and the UDF runs exactly once.
    return coalesce(cell_udfs(_session_cache_key())["h3_encode"](lat, lon, lit(res)), lit(-1))
