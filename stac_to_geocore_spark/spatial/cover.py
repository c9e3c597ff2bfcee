"""Polygon (bbox) -> covering H3-style cell set at adaptive resolution.

The spatial JOINS do not use these covers: pip_join, pip_ring_join,
knn_join and bbox_overlap_join all take their candidates from the one
uniform lon/lat grid in spatial/grid.py. H3 covers serve only where cell
ids are output payload — the flagship's cell_p5 join (pipeline.py) and the
`cover_cells` SQL UDTF.

The filter-refine contract: for every point p inside bbox B,
`h3_encode(p, res(B))` MUST be in `cover(B)` (no false negatives; false
positives are removed by the flagship's exact refine predicate). The cover
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

`fully_inside` marks cells that cannot touch the bbox boundary; the flagship
skips the exact predicate for those rows (the classic filter-refine split).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
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


def _ragged_grid(lo_x: np.ndarray, nx: np.ndarray, lo_y: np.ndarray, ny: np.ndarray
                 ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Flatten per-box (nx_i x ny_i) index grids: returns (box, ix, iy) with
    row-major x-inner ordering (matching meshgrid('xy').ravel())."""
    cnt = nx * ny
    total = int(cnt.sum())
    box = np.repeat(np.arange(len(nx), dtype=np.int64), cnt)
    starts = np.concatenate([[0], np.cumsum(cnt)[:-1]])
    rel = np.arange(total, dtype=np.int64) - np.repeat(starts, cnt)
    return box, lo_x[box] + rel % nx[box], lo_y[box] + rel // nx[box]


def cover_bbox_batch_np(west: np.ndarray, south: np.ndarray, east: np.ndarray,
                        north: np.ndarray, res: int, max_samples: int = 1024,
                        chunk: int = 512
                        ) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized cover for a BATCH of bboxes at one fixed res.

    Returns (box_idx:int64[], cells:int64[], fully_inside:bool[], handled:bool[N])
    where `handled` marks boxes the batch path computed; the caller runs
    cover_bbox_np per-polygon for the rest. The batch path takes boxes whose
    sample grid is at most max_samples points (bounds batch memory) and
    whose samples ALL land on ONE icosahedron face — for those its output is
    bit-identical to cover_bbox_np: same linspace sample grid (including
    numpy's exact-endpoint override), same pad, same candidate ranges, same
    keep/fully_inside predicates, same sorted-unique per-box layout
    (regression-tested against the per-polygon kernel in tests/test_spatial.py).

    Why it exists: cover_bbox_np costs ~0.3 ms/polygon in small-array numpy
    overhead — for a region-region join shuffling 10^5-10^6 box covers the
    per-polygon dispatch dominates the math ~10x (measured 8x end-to-end on
    the orders-derived fixture). Work proceeds in `chunk`-box slices: the
    candidate arrays of ~512 tiny boxes stay cache-resident, where one
    monolithic 15k-box pass thrashes (measured SLOWER than per-poly).
    """
    west = np.asarray(west, np.float64)
    south = np.asarray(south, np.float64)
    east = np.asarray(east, np.float64)
    north = np.asarray(north, np.float64)
    n = len(west)
    empty_i = np.empty(0, np.int64)
    empty_b = np.empty(0, bool)
    if n == 0:
        return empty_i, empty_i, empty_b, np.zeros(0, bool)
    if n > chunk:
        bis, cs, fs, hs = [], [], [], []
        for lo in range(0, n, chunk):
            bi, c, f, h = cover_bbox_batch_np(
                west[lo:lo + chunk], south[lo:lo + chunk],
                east[lo:lo + chunk], north[lo:lo + chunk], res,
                max_samples, chunk)
            bis.append(bi + lo)
            cs.append(c)
            fs.append(f)
            hs.append(h)
        return (np.concatenate(bis), np.concatenate(cs),
                np.concatenate(fs), np.concatenate(hs))

    spacing = h3x.res_spacing(res)
    inr_deg = (spacing / 2.0) * DEG / _DISTORT
    circ_deg = (spacing / math.sqrt(3.0)) * DEG * _DISTORT

    coslat = np.maximum(0.05, np.cos(np.radians(np.maximum(np.abs(south), np.abs(north)))))
    nx = np.clip(np.ceil((east - west) * coslat / inr_deg).astype(np.int64) + 2, 2, 512)
    ny = np.clip(np.ceil((north - south) / inr_deg).astype(np.int64) + 2, 2, 512)
    small = nx * ny <= max_samples
    sidx = np.nonzero(small)[0]
    if len(sidx) == 0:
        return empty_i, empty_i, empty_b, np.zeros(n, bool)
    w0, s0, e0, n0 = west[sidx], south[sidx], east[sidx], north[sidx]
    nx0, ny0, cl0 = nx[sidx], ny[sidx], coslat[sidx]

    # ragged sample grids, replicating np.linspace bit-exactly: value =
    # j * ((stop-start)/(num-1)) + start, with the LAST point set to stop
    sbox, jx, jy = _ragged_grid(np.zeros(len(sidx), np.int64), nx0,
                                np.zeros(len(sidx), np.int64), ny0)
    glon = jx * ((e0 - w0) / (nx0 - 1))[sbox] + w0[sbox]
    glon[jx == nx0[sbox] - 1] = e0[sbox][jx == nx0[sbox] - 1]
    glat = jy * ((n0 - s0) / (ny0 - 1))[sbox] + s0[sbox]
    glat[jy == ny0[sbox] - 1] = n0[sbox][jy == ny0[sbox] - 1]

    xyz = h3x._latlon_to_xyz(glat, glon)
    faces, zp = h3x._xyz_to_face_plane(xyz)
    zl = zp * h3x._RES_XFORM[res]
    bf = zl.imag / h3x._TAU.imag
    af = zl.real - 0.5 * bf

    # one face per box (reduceat over the ragged sample groups), and no
    # other face within cover_bbox_np's 2 * gap near-face margin of any
    # sample — those boxes take the per-polygon path
    scnt = nx0 * ny0
    sstart = np.concatenate([[0], np.cumsum(scnt)[:-1]])
    gap0 = np.radians(np.maximum((e0 - w0) / (nx0 - 1) * cl0, (n0 - s0) / (ny0 - 1)))
    dots = xyz @ h3x._FACE_CENTERS.T
    n_near = (dots >= dots.max(axis=1, keepdims=True) - 2.0 * gap0[sbox][:, None]).sum(axis=1)
    one_face = ((np.minimum.reduceat(faces, sstart) == np.maximum.reduceat(faces, sstart))
                & (np.maximum.reduceat(n_near, sstart) == 1))
    handled = np.zeros(n, bool)
    handled[sidx[one_face]] = True
    keep_boxes = np.nonzero(one_face)[0]
    if len(keep_boxes) == 0:
        return empty_i, empty_i, empty_b, handled

    af_lo = np.minimum.reduceat(af, sstart)[keep_boxes]
    af_hi = np.maximum.reduceat(af, sstart)[keep_boxes]
    bf_lo = np.minimum.reduceat(bf, sstart)[keep_boxes]
    bf_hi = np.maximum.reduceat(bf, sstart)[keep_boxes]
    face_of = faces[sstart][keep_boxes]
    w1, s1, e1, n1 = w0[keep_boxes], s0[keep_boxes], e0[keep_boxes], n0[keep_boxes]
    cl1 = cl0[keep_boxes]
    orig = sidx[keep_boxes]

    # pad in lattice units: sampling gap + rounding + face-clip slack
    pad = np.ceil(gap0[keep_boxes] * _DISTORT / spacing).astype(np.int64) + 3
    a_lo = np.floor(af_lo).astype(np.int64) - pad
    a_hi = np.ceil(af_hi).astype(np.int64) + pad
    b_lo = np.floor(bf_lo).astype(np.int64) - pad
    b_hi = np.ceil(bf_hi).astype(np.int64) + pad

    # ragged per-box candidate grids -> centers -> keep/full predicates
    box, aa, bb = _ragged_grid(a_lo, a_hi - a_lo + 1, b_lo, b_hi - b_lo + 1)
    zlc = aa.astype(np.float64) + bb.astype(np.float64) * h3x._TAU
    zpc = zlc / h3x._RES_XFORM[res]
    cxyz = h3x._plane_to_xyz(face_of[box], zpc)
    clat, clon = h3x._xyz_to_latlon(cxyz)

    cl_, w_, s_ = cl1[box], w1[box], s1[box]
    e_, n_ = e1[box], n1[box]
    keep = (
        (clon >= w_ - circ_deg / cl_) & (clon <= e_ + circ_deg / cl_)
        & (clat >= s_ - circ_deg) & (clat <= n_ + circ_deg)
    )
    box, aa, bb = box[keep], aa[keep], bb[keep]
    clat, clon, cl_ = clat[keep], clon[keep], cl_[keep]
    w_, s_, e_, n_ = w_[keep], s_[keep], e_[keep], n_[keep]
    cells = h3x._pack(face_of[box], aa, bb, res)
    full = (
        (clon - circ_deg / cl_ >= w_) & (clon + circ_deg / cl_ <= e_)
        & (clat - circ_deg >= s_) & (clat + circ_deg <= n_)
    )
    # single face per box -> (a, b) pairs are already unique within a box;
    # sort by (box, cell) to match cover_bbox_np's sorted-unique layout
    order = np.lexsort((cells, box))
    return orig[box[order]], cells[order], full[order], handled


# Shared driver-dim contract: a geometry table at or below this row count is
# safe to collect and plan/broadcast driver-side (pip_join, pip_ring_join,
# flagship, bbox_overlap_join all share this threshold — tune it in ONE place)
DRIVER_DIM_MAX = 10_000

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
    """Driver-side cover planning (numpy, no Spark job): the right path when
    polygons are a dim table (like the reference's driver-side pagination
    planner). Column layout matches COVER_SCHEMA."""
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


def covers_df(polys: DataFrame, res_min: int = 5, res_max: int = 9,
              max_cells: int = 2048, fixed_res: int | None = None,
              min_partitions: int | None = None) -> DataFrame:
    """Distributed cover generation: one output row per (polygon, cell).

    polys: (poly_id, west, south, east, north). Cover synthesis is pure numpy
    per polygon inside mapInPandas — scales with polygon count, and each
    polygon's cover is bounded by max_cells via adaptive resolution.

    Parallelism: cover synthesis is CPU-bound Python work (~0.3 ms/polygon),
    but a compact parquet dim table often reads as 1-2 file-split
    partitions — which would serialize 10^5 polygons onto 1-2 cores (this
    cost 100+ s at sf0.1 before the fix). The input is repartitioned up to
    the cluster's core count when it arrives with fewer partitions; the
    shuffled rows are 5 scalars each, so the exchange is trivially cheap
    relative to the python work it parallelizes.
    """
    if min_partitions is None:
        min_partitions = polys.sparkSession.sparkContext.defaultParallelism
    # The probe costs one driver-side plan analysis (~ms, no job) — kept
    # DELIBERATELY over an unconditional repartition: repartition(cores)
    # would silently DOWN-partition a big region table that arrives with
    # thousands of file splits, collapsing the CPU-bound cover stage into
    # core-count giant tasks with no straggler/retry granularity. The guard
    # only ever RAISES parallelism (its purpose: a compact dim table read
    # as 1-2 splits serializing 10^5 covers onto 2 cores), and the shuffled
    # rows are 5 scalars each — noise next to the python work parallelized.
    if polys.rdd.getNumPartitions() < min_partitions:
        polys = polys.repartition(min_partitions)

    empty = pd.DataFrame({f.name: pd.Series(dtype="object") for f in COVER_SCHEMA.fields})

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            if len(b) == 0:
                yield empty
                continue
            wv = b["west"].to_numpy(np.float64)
            sv = b["south"].to_numpy(np.float64)
            ev = b["east"].to_numpy(np.float64)
            nv = b["north"].to_numpy(np.float64)
            pid = b["poly_id"].to_numpy(object)
            parts = []
            if fixed_res is not None:
                # batched kernel for small single-face boxes (bit-identical
                # to the per-polygon kernel; ~10x less numpy dispatch)
                bi, cells, full, handled = cover_bbox_batch_np(wv, sv, ev, nv, fixed_res)
                if len(cells):
                    parts.append(pd.DataFrame({
                        "poly_id": pid[bi],
                        "res": np.full(len(cells), fixed_res, np.int32),
                        "cell": cells, "fully_inside": full,
                        "west": wv[bi], "south": sv[bi],
                        "east": ev[bi], "north": nv[bi],
                    }))
                todo = np.nonzero(~handled)[0]
            else:
                todo = np.arange(len(b))
            if len(todo):
                ids, ress, cells_l, full_l = [], [], [], []
                for i in todo:
                    res = fixed_res if fixed_res is not None else adaptive_res(
                        wv[i], sv[i], ev[i], nv[i], res_min, res_max, max_cells)
                    cells, full = cover_bbox_np(wv[i], sv[i], ev[i], nv[i], res)
                    ids.append(pid[i])
                    ress.append(res)
                    cells_l.append(cells)
                    full_l.append(full)
                # ONE frame per Arrow batch (a per-polygon DataFrame + concat
                # costs ~0.14 ms/polygon — as much as the cover kernel itself)
                counts = np.array([len(c) for c in cells_l])
                parts.append(pd.DataFrame({
                    "poly_id": np.repeat(np.asarray(ids, dtype=object), counts),
                    "res": np.repeat(np.asarray(ress, dtype=np.int32), counts),
                    "cell": np.concatenate(cells_l),
                    "fully_inside": np.concatenate(full_l),
                    "west": np.repeat(wv[todo], counts),
                    "south": np.repeat(sv[todo], counts),
                    "east": np.repeat(ev[todo], counts),
                    "north": np.repeat(nv[todo], counts),
                }))
            yield pd.concat(parts, ignore_index=True) if parts else empty

    return polys.mapInPandas(gen, COVER_SCHEMA)


def register_cover_udtf(spark: SparkSession, name: str = "cover_cells") -> None:
    """SQL-composable cover generation as a Python UDTF: makes the cell
    cover a LATERAL table function so pure-SQL users can build spatial
    filter-refine joins without leaving Spark SQL:

        SELECT p.poly_id, c.cell
        FROM polys p, LATERAL cover_cells(p.west, p.south, p.east, p.north, 6) c

    Each eval() call runs one vectorized numpy cover (same kernel as
    covers_df); the UDTF is the per-row table-expansion surface, covers_df
    the bulk mapInPandas surface. Output rows ride Arrow batches
    (useArrow) instead of pickled rows — a cover yields up to max_cells
    rows per input row, so the output serialization is the UDTF's hot
    path; falls back to the pickling UDTF if the runtime lacks Arrow
    UDTF support."""
    from pyspark.sql.functions import udtf

    class CoverCells:
        def eval(self, west, south, east, north, res: int):
            # SQL decimal literals arrive as decimal.Decimal — coerce
            cells, full = cover_bbox_np(float(west), float(south), float(east), float(north), int(res))
            for c, f in zip(cells.tolist(), full.tolist()):
                yield int(c), bool(f)

    try:
        wrapped = udtf(CoverCells, returnType="cell bigint, fully_inside boolean", useArrow=True)
    except TypeError:  # runtime without Arrow-UDTF support
        wrapped = udtf(CoverCells, returnType="cell bigint, fully_inside boolean")
    spark.udtf.register(name, wrapped)
