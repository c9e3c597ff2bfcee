"""Polygon (bbox) -> covering H3-style cell set at adaptive resolution.

No join uses these covers: every spatial join, the flagship's included,
takes its candidates from the one uniform lon/lat grid in spatial/grid.py.
H3 covers serve where cell ids are output payload: the `cover_cells` SQL
UDTF, and covers_pdf, which covers a pandas box table in one frame.

The superset contract: for every point p inside bbox B,
`h3_encode(p, res(B))` MUST be in `cover(B)` (no false negatives; a
consumer that needs exact containment refines with the bbox). The cover
is built by enumerating the hex lattice directly on each icosahedron face
the bbox touches — O(cells), never O(area/sample_step^2) — with generous
pads for gnomonic distortion and face-boundary clipping. A face is
enumerated when some bbox sample maps to it OR lies within twice the
sample spacing of mapping to it, so a face that enters the bbox between
two samples is not missed.

Resolution is chosen per-polygon (SURVEY.md §4.3 "resolution selection"):
the finest res in [res_min, res_max] whose estimated cover stays under
`max_cells`. Big collection polygons get res 5-6, small item footprints get
res 8-9 — exactly the H3 res 5-9 band from BASELINE.json.

`fully_inside` marks cells that cannot touch the bbox boundary: a consumer
may skip the exact predicate for those rows (the classic filter-refine
split).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from stac_to_geocore_spark.cells import h3x

DEG = 180.0 / math.pi
# gnomonic distortion bound within a face (sec^2 of max center->vertex angle)
_DISTORT = 1.7


def cell_area_rad2(res: int) -> float:
    """Area (rad^2) of one hex cell at `res` (the lattice area model
    adaptive_res sizes covers with)."""
    s = h3x.res_spacing(res)
    return (math.sqrt(3.0) / 2.0) * s * s


def adaptive_res(west: float, south: float, east: float, north: float,
                 res_min: int = 5, res_max: int = 9, max_cells: int = 2048) -> int:
    """Finest res whose estimated cover of the bbox is <= max_cells."""
    area_rad2 = max(1e-12, math.radians(east - west) * math.radians(north - south)
                    * math.cos(math.radians((south + north) / 2.0)))
    for res in range(res_max, res_min - 1, -1):
        if area_rad2 / cell_area_rad2(res) <= max_cells:
            return res
    return res_min


def cover_bbox_np(west: float, south: float, east: float, north: float, res: int
                  ) -> tuple[np.ndarray, np.ndarray]:
    """Covering cells of a geographic bbox at `res`.

    Returns (cells:int64[], fully_inside:bool[]). Superset guarantee: every
    cell that any point of the bbox encodes to is present.
    """
    spacing = h3x.res_spacing(res)
    inr_deg = (spacing / 2.0) * DEG / _DISTORT        # min angular inradius
    circ_deg = (spacing / math.sqrt(3.0)) * DEG * _DISTORT  # max angular circumradius

    # sample the bbox densely enough that adjacent samples are < 2 cell
    # inradii apart (so every region of the bbox has a nearby sample)
    coslat = max(0.05, math.cos(math.radians(max(abs(south), abs(north)))))
    nx = max(2, min(512, int(math.ceil((east - west) * coslat / inr_deg)) + 2))
    ny = max(2, min(512, int(math.ceil((north - south) / inr_deg)) + 2))
    lons = np.linspace(west, east, nx)
    lats = np.linspace(south, north, ny)
    glon, glat = np.meshgrid(lons, lats)
    glon, glat = glon.ravel(), glat.ravel()

    xyz = h3x._latlon_to_xyz(glat, glon)
    dots = xyz @ h3x._FACE_CENTERS.T
    xform = h3x._RES_XFORM[res]

    # pad in lattice units: sampling gap + rounding + face-clip slack
    gap_rad = math.radians(max((east - west) / (nx - 1) * coslat, (north - south) / (ny - 1)))
    pad = int(math.ceil(gap_rad * _DISTORT / spacing)) + 3

    # a face can enter the bbox BETWEEN samples without being any sample's
    # max-dot face; a point within gap of sample p moves each dot by at most
    # gap, so such a face f has dot(p, c_f) >= max_dot(p) - 2 * gap at some
    # sample p. Enumerate those faces too, ranging each one's lattice over
    # the near samples projected onto its plane; a face some sample maps to
    # is ranged over its own samples, whose pad covers the gaps between them
    faces = dots.argmax(axis=1)
    own = faces[:, None] == np.arange(dots.shape[1])[None, :]
    near = dots >= dots.max(axis=1, keepdims=True) - 2.0 * gap_rad

    cells_all, full_all = [], []
    for f in np.nonzero(near.any(axis=0))[0]:
        m = own[:, f] if own[:, f].any() else near[:, f]
        # same gnomonic formula as h3x._xyz_to_face_plane, so a face's own
        # samples land on the lattice exactly where the encoder puts them
        fm = np.full(int(m.sum()), f)
        x = np.einsum("...k,...k->...", xyz[m], h3x._FACE_E1[fm]) / dots[m, f]
        y = np.einsum("...k,...k->...", xyz[m], h3x._FACE_E2[fm]) / dots[m, f]
        zl = (x + 1j * y) * xform
        bf = zl.imag / h3x._TAU.imag
        af = zl.real - 0.5 * bf
        a_lo, a_hi = int(np.floor(af.min())) - pad, int(np.ceil(af.max())) + pad
        b_lo, b_hi = int(np.floor(bf.min())) - pad, int(np.ceil(bf.max())) + pad
        aa, bb = np.meshgrid(np.arange(a_lo, a_hi + 1), np.arange(b_lo, b_hi + 1))
        aa, bb = aa.ravel().astype(np.int64), bb.ravel().astype(np.int64)
        # candidate centers -> lat/lon (through this face's plane)
        zlc = aa.astype(np.float64) + bb.astype(np.float64) * h3x._TAU
        zpc = zlc / xform
        cxyz = h3x._plane_to_xyz(np.full(aa.shape, f, dtype=np.int64), zpc)
        clat, clon = h3x._xyz_to_latlon(cxyz)
        # keep cells whose disc could overlap the bbox
        keep = (
            (clon >= west - circ_deg / coslat) & (clon <= east + circ_deg / coslat)
            & (clat >= south - circ_deg) & (clat <= north + circ_deg)
        )
        if not keep.any():
            continue
        aa, bb, clat, clon = aa[keep], bb[keep], clat[keep], clon[keep]
        # pack (face, a, b) DIRECTLY — a point whose max-dot face is f always
        # rounds on face f's lattice, so the ids points produce are exactly
        # the face-f lattice ids (re-encoding centers would mis-assign
        # boundary cells whose center falls across the face seam)
        cells = h3x._pack(np.full(aa.shape, f, dtype=np.int64), aa, bb, res)
        full = (
            (clon - circ_deg / coslat >= west) & (clon + circ_deg / coslat <= east)
            & (clat - circ_deg >= south) & (clat + circ_deg <= north)
        )
        cells_all.append(cells)
        full_all.append(full)

    cells = np.concatenate(cells_all)
    full = np.concatenate(full_all)
    # dedup (faces overlap at boundaries); a cell is fully_inside only if
    # every occurrence says so
    order = np.argsort(cells, kind="stable")
    cells, full = cells[order], full[order]
    uniq, idx = np.unique(cells, return_index=True)
    full_u = np.minimum.reduceat(full.astype(np.int8), idx).astype(bool)
    return uniq, full_u


COVER_SCHEMA = StructType(
    [
        StructField("poly_id", StringType(), False),
        StructField("res", IntegerType(), False),
        StructField("cell", LongType(), False),
        StructField("fully_inside", BooleanType(), False),
        StructField("west", DoubleType(), False),
        StructField("south", DoubleType(), False),
        StructField("east", DoubleType(), False),
        StructField("north", DoubleType(), False),
    ]
)


def covers_pdf(polys_pdf: pd.DataFrame, res_min: int = 5, res_max: int = 9,
               max_cells: int = 2048, fixed_res: int | None = None) -> pd.DataFrame:
    """Covers of a pandas box table on the driver (numpy, no Spark job).
    Column layout matches COVER_SCHEMA."""
    out = []
    for row in polys_pdf.itertuples(index=False):
        res = fixed_res if fixed_res is not None else adaptive_res(
            row.west, row.south, row.east, row.north, res_min, res_max, max_cells)
        cells, full = cover_bbox_np(row.west, row.south, row.east, row.north, res)
        out.append(pd.DataFrame({
            "poly_id": row.poly_id, "res": np.int32(res), "cell": cells,
            "fully_inside": full, "west": row.west, "south": row.south,
            "east": row.east, "north": row.north,
        }))
    if not out:
        return pd.DataFrame({f.name: pd.Series(dtype="object") for f in COVER_SCHEMA.fields})
    return pd.concat(out, ignore_index=True)


def register_cover_udtf(spark: SparkSession, name: str = "cover_cells") -> None:
    """SQL-composable cover generation as a Python UDTF: makes the cell
    cover a LATERAL table function so pure-SQL users can build spatial
    filter-refine joins without leaving Spark SQL:

        SELECT p.poly_id, c.cell
        FROM polys p, LATERAL cover_cells(p.west, p.south, p.east, p.north, 6) c

    Each eval() call runs one vectorized numpy cover (same kernel as
    covers_pdf). Output rows ride Arrow batches
    (useArrow) instead of pickled rows — a cover yields up to max_cells
    rows per input row, so the output serialization is the UDTF's hot
    path."""
    from pyspark.sql.functions import udtf

    class CoverCells:
        def eval(self, west, south, east, north, res: int):
            # SQL decimal literals arrive as decimal.Decimal — coerce
            cells, full = cover_bbox_np(float(west), float(south), float(east), float(north), int(res))
            for c, f in zip(cells.tolist(), full.tolist()):
                yield int(c), bool(f)

    spark.udtf.register(
        name, udtf(CoverCells, returnType="cell bigint, fully_inside boolean", useArrow=True))
