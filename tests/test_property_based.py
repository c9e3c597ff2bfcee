"""Hypothesis property tests (SURVEY.md §5.2): the pure-numpy kernels (cover
superset, codec round-trips, tile monotonicity, S2 hierarchy) and the
operators vs brute force (relational joins; the grid spatial joins, on
inputs that sit exactly on box edges and grid lines)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import example, given, settings, strategies as st

from stac_to_geocore_spark.cells import h3x
from stac_to_geocore_spark.cells.s2 import s2_encode_np, s2_parent_np
from stac_to_geocore_spark.cells.tiles import tile_xy_np
from stac_to_geocore_spark.images.codecs import decode_image, encode_image, psnr
from stac_to_geocore_spark.spatial.cover import adaptive_res, cover_bbox_np

lat_st = st.floats(min_value=-84.0, max_value=84.0, allow_nan=False)
lon_st = st.floats(min_value=-179.0, max_value=179.0, allow_nan=False)


@settings(max_examples=30, deadline=None)
@given(lon=lon_st, lat=lat_st,
       w=st.floats(min_value=0.02, max_value=4.0), h=st.floats(min_value=0.02, max_value=4.0),
       seed=st.integers(min_value=0, max_value=2**31))
def test_cover_superset_property(lon, lat, w, h, seed):
    west, east = max(-179.5, lon - w / 2), min(179.5, lon + w / 2)
    south, north = max(-84.0, lat - h / 2), min(84.0, lat + h / 2)
    if east - west < 1e-6 or north - south < 1e-6:
        return
    res = adaptive_res(west, south, east, north)
    cells, _ = cover_bbox_np(west, south, east, north, res)
    rng = np.random.default_rng(seed)
    plon = rng.uniform(west, east, 300)
    plat = rng.uniform(south, north, 300)
    assert np.isin(h3x.h3_encode_np(plat, plon, res), cells).all()


@settings(max_examples=30, deadline=None)
@given(lat=lat_st, lon=lon_st, level=st.integers(min_value=1, max_value=30))
def test_s2_parent_contains_child(lat, lon, level):
    child = s2_encode_np(np.array([lat]), np.array([lon]), level)
    for up in range(level - 1, max(-1, level - 4), -1):
        assert s2_parent_np(child, up)[0] == s2_encode_np(np.array([lat]), np.array([lon]), up)[0]


@settings(max_examples=30, deadline=None)
@given(lat=lat_st, lon=lon_st, z=st.integers(min_value=0, max_value=18))
def test_tile_in_range_and_zoom_nesting(lat, lon, z):
    x, y = tile_xy_np(np.array([lon]), np.array([lat]), z)
    assert 0 <= x[0] < 2**z and 0 <= y[0] < 2**z
    if z > 0:
        px, py = tile_xy_np(np.array([lon]), np.array([lat]), z - 1)
        assert px[0] == x[0] // 2 and py[0] == y[0] // 2


@settings(max_examples=15, deadline=None)
@given(h=st.integers(min_value=1, max_value=80), w=st.integers(min_value=1, max_value=80),
       seed=st.integers(min_value=0, max_value=2**31), fmt=st.sampled_from(["ppm", "png"]))
def test_lossless_roundtrip_property(h, w, seed, fmt):
    px = np.random.default_rng(seed).integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert (decode_image(encode_image(px, fmt), fmt) == px).all()


@settings(max_examples=15, deadline=None)
@given(h=st.integers(min_value=4, max_value=64), w=st.integers(min_value=4, max_value=64),
       seed=st.integers(min_value=0, max_value=2**31))
def test_qjpg_psnr_property(h, w, seed):
    px = np.random.default_rng(seed).integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert psnr(px, decode_image(encode_image(px, "qjpg"), "qjpg")) >= 40.0


# --- relational operators vs brute force (random instances) ---

_ts0 = 1_600_000_000  # fixed epoch base; offsets in seconds


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.tuples(st.integers(0, 4), st.integers(0, 500_000)), min_size=1, max_size=40),
    st.lists(st.tuples(st.integers(0, 4), st.integers(0, 500_000)), min_size=1, max_size=25),
)
@example([(0, 0)], [(0, 0)])  # a once-failing case: one left and one right row, equal ts
def test_asof_join_matches_brute_force(left_rows, right_rows):
    """Both as-of plans vs a brute-force per-row argmax over random keys
    and timestamps (including equal-ts ties and id tie-breaks)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from stac_to_geocore_spark.relational import asof_join
    from stac_to_geocore_spark.session import get_spark

    spark = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    left = spark.createDataFrame(
        [(i, k, dt.datetime.utcfromtimestamp(_ts0 + off)) for i, (k, off) in enumerate(left_rows)],
        "lid long, k long, lts timestamp",
    )
    right = spark.createDataFrame(
        [(i, k, dt.datetime.utcfromtimestamp(_ts0 + off)) for i, (k, off) in enumerate(right_rows)],
        "rid long, k long, rts timestamp",
    )
    want = {}
    for i, (lk, loff) in enumerate(left_rows):
        best = None
        for j, (rk, roff) in enumerate(right_rows):
            if rk == lk and roff <= loff:
                cand = (roff, j)
                best = cand if best is None or cand > best else best
        if best is not None:
            want[i] = best[1]
    for bc in (True, False):
        got = {
            r["lid"]: r["asof_rid"]
            for r in asof_join(
                left, right, "k", "k", F.col("lts"), F.col("rts"), "rid", broadcast_right=bc
            ).collect()
        }
        assert got == want, f"broadcast={bc}"


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.integers(0, 900_000), min_size=1, max_size=40),
    st.lists(st.tuples(st.integers(0, 900_000), st.integers(0, 400_000)), min_size=1, max_size=20),
    st.sampled_from([3600, 86_400, 50_000]),
)
def test_range_join_matches_brute_force(fact_offs, iv_rows, bucket):
    """Bucketed range join vs brute force for arbitrary bucket sizes,
    interval lengths (incl. zero-length), and boundary landings."""
    import datetime as dt

    from pyspark.sql import functions as F

    from stac_to_geocore_spark.relational import range_join
    from stac_to_geocore_spark.session import get_spark

    spark = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    facts = spark.createDataFrame(
        [(i, dt.datetime.utcfromtimestamp(_ts0 + off)) for i, off in enumerate(fact_offs)],
        "fid long, ts timestamp",
    )
    iv = spark.createDataFrame(
        [(i, dt.datetime.utcfromtimestamp(_ts0 + lo), dt.datetime.utcfromtimestamp(_ts0 + lo + ln))
         for i, (lo, ln) in enumerate(iv_rows)],
        "ivid long, lo timestamp, hi timestamp",
    )
    got = {
        (r["fid"], r["ivid"])
        for r in range_join(facts, iv, F.col("ts"), F.col("lo"), F.col("hi"), bucket_seconds=bucket).collect()
    }
    want = {
        (i, j)
        for i, off in enumerate(fact_offs)
        for j, (lo, ln) in enumerate(iv_rows)
        if lo <= off <= lo + ln
    }
    assert got == want


# --- grid spatial joins vs numpy brute force (random instances) ---

_box_st = st.tuples(
    st.floats(min_value=-100.0, max_value=-90.0), st.floats(min_value=50.0, max_value=58.0),
    st.floats(min_value=0.0, max_value=3.0), st.floats(min_value=0.0, max_value=3.0),
)
_pt_st = st.tuples(st.floats(min_value=-101.0, max_value=-86.0),
                   st.floats(min_value=49.0, max_value=62.0))


def _grid_lines(spark, w, s, e, n, wb, hb):
    """Points exactly on the join's grid lines (k*dx, k*dy) inside [w, e] x
    [s, n], with the steps the join derives from boxes of widths wb and
    heights hb (the same grid_steps call pip_ring_join makes)."""
    import math

    from stac_to_geocore_spark.spatial.grid import grid_steps
    from stac_to_geocore_spark.spatial.pip import POINT_CELLS_PER_BOX

    dx, dy = grid_steps(sum(wb) / len(wb), max(wb), sum(hb) / len(hb), max(hb),
                        target_cells_per_box=POINT_CELLS_PER_BOX)
    xs = [k * dx for k in range(math.ceil(w / dx), math.floor(e / dx) + 1)][:4]
    ys = [k * dy for k in range(math.ceil(s / dy), math.floor(n / dy) + 1)][:4]
    return [(x, y) for x in xs for y in ys] + [(x, (s + n) / 2) for x in xs] + [((w + e) / 2, y) for y in ys]


@settings(max_examples=8, deadline=None)
@given(boxes=st.lists(_box_st, min_size=1, max_size=5),
       pts=st.lists(_pt_st, max_size=25), salt=st.sampled_from([0, 3]))
def test_pip_join_matches_brute_force(boxes, pts, salt):
    """pip_join (broadcast and salted), and the flagship pipeline that runs
    it over encoded images, vs the closed-bbox predicate, on random points
    plus every box corner and edge midpoint, and points on the grid lines
    of the join's own steps."""
    from stac_to_geocore_spark.pipeline import flagship
    from stac_to_geocore_spark.session import get_spark
    from stac_to_geocore_spark.spatial.grid import grid_side_stats, grid_steps
    from stac_to_geocore_spark.spatial.pip import POINT_CELLS_PER_BOX, pip_join

    spark = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    rows = [(f"b{i}", x, y, x + w, y + h) for i, (x, y, w, h) in enumerate(boxes)]
    polys = spark.createDataFrame(rows, "poly_id string, west double, south double, east double, north double")
    _n, mw, xw, mh, xh = grid_side_stats(polys)
    dx, dy = grid_steps(mw, xw, mh, xh, target_cells_per_box=POINT_CELLS_PER_BOX)
    xy = list(pts)
    for _b, w, s, e, n in rows:
        xy += [(w, s), (e, n), (w, n), (e, s), (w, (s + n) / 2), ((w + e) / 2, n)]
        xy += [(k * dx, (s + n) / 2) for k in (int(w // dx), int(e // dx))]
        xy += [((w + e) / 2, k * dy) for k in (int(s // dy), int(n // dy))]
    xy += [(k * dx, j * dy) for _b, w, s, e, n in rows
           for k in (int(w // dx), int(w // dx) + 1) for j in (int(s // dy), int(s // dy) + 1)]
    points = spark.createDataFrame([(i, float(x), float(y)) for i, (x, y) in enumerate(xy)],
                                   "image_id long, lon double, lat double")
    want = {(i, b) for i, (x, y) in enumerate(xy) for b, w, s, e, n in rows
            if w <= x <= e and s <= y <= n}
    for join in (pip_join, flagship):
        got = {(r.image_id, r.poly_id) for r in join(
            points, polys, broadcast_covers=salt == 0, salt_factor=salt).collect()}
        assert got == want, join.__name__


@settings(max_examples=8, deadline=None)
@given(boxes=st.lists(_box_st, min_size=1, max_size=5),
       side_b=st.sampled_from(["self", "same_rows", "every_other_row"]))
def test_bbox_overlap_join_matches_brute_force(boxes, side_b):
    """bbox_overlap_join vs the closed-intersection predicate, compared as a
    multiset of pairs (a pair emitted twice fails), on both routes (the
    broadcast join, and the sort-merge forced by DRIVER_DIM_MAX = 0), as a
    self-join and as a two-table join. Every random box also gets a
    neighbour touching its east edge, one touching its north-east corner,
    a box contained in it, and a copy moved onto the join's grid lines —
    copies keep the widths and heights, so the grid the join derives stays
    (to within rounding) the one the copies were placed on."""
    import math
    from collections import Counter

    import stac_to_geocore_spark.spatial.overlap as ov
    from stac_to_geocore_spark.session import get_spark
    from stac_to_geocore_spark.spatial.grid import grid_side_stats, grid_steps

    spark = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    schema = "poly_id string, west double, south double, east double, north double"
    base = []
    for x, y, w, h in boxes:
        base += [(x, y, x + w, y + h), (x + w, y, x + 2 * w, y + h),
                 (x + w, y + h, x + 1.5 * w, y + 1.5 * h),
                 (x + w / 4, y + h / 4, x + w / 2, y + h / 2)]
    _n, *ext = grid_side_stats(spark.createDataFrame(
        [(f"b{i}",) + b for i, b in enumerate(base)], schema))
    dx, dy = grid_steps(*ext, ov.CELLS_PER_BOX, ov.MAX_CELLS)
    on_grid = [(math.floor(w / dx) * dx, math.floor(s / dy) * dy) for w, s, _e, _n in base]
    rows = [(f"b{i}",) + b for i, b in enumerate(
        base + [(gx, gy, gx + (e - w), gy + (n - s)) for (gx, gy), (w, s, e, n) in zip(on_grid, base)])]
    rows_b = {"self": rows, "same_rows": rows, "every_other_row": rows[::2]}[side_b]
    polys_a = spark.createDataFrame(rows, schema)
    polys_b = polys_a if side_b == "self" else spark.createDataFrame(rows_b, schema)
    want = Counter((a[0], b[0]) for a in rows for b in rows_b
                   if a[1] <= b[3] and a[3] >= b[1] and a[2] <= b[4] and a[4] >= b[2])
    for dim_max in (ov.DRIVER_DIM_MAX, 0):
        with pytest.MonkeyPatch.context() as m:
            m.setattr(ov, "DRIVER_DIM_MAX", dim_max)
            got = Counter((r.id_a, r.id_b) for r in ov.bbox_overlap_join(polys_a, polys_b).collect())
        assert got == want, f"DRIVER_DIM_MAX={dim_max}"


def _ray_cast_np(px, py, rx, ry):
    x1, y1 = np.asarray(rx), np.asarray(ry)
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    X, Y = np.asarray(px)[:, None], np.asarray(py)[:, None]
    with np.errstate(divide="ignore", invalid="ignore"):
        crosses = ((y1 > Y) != (y2 > Y)) & (X < (x2 - x1) * (Y - y1) / (y2 - y1) + x1)
    return crosses.sum(axis=1) % 2 == 1


@settings(max_examples=8, deadline=None)
@given(cx=st.floats(min_value=-98.0, max_value=-92.0), cy=st.floats(min_value=51.0, max_value=57.0),
       r=st.floats(min_value=0.05, max_value=3.0), tips=st.integers(min_value=3, max_value=7),
       sq=_box_st, pts=st.lists(_pt_st, max_size=40))
def test_pip_ring_join_matches_brute_force(cx, cy, r, tips, sq, pts):
    """pip_ring_join vs a numpy even-odd ray cast (same operation order, so
    exact) on a random star and a square ring whose edges are horizontal
    and vertical, with points on vertices, on the horizontal edges, and on
    the join's grid lines."""
    from stac_to_geocore_spark.session import get_spark
    from stac_to_geocore_spark.spatial.pip import pip_ring_join

    spark = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    ang = np.arange(2 * tips) * (np.pi / tips)
    rad = np.where(np.arange(2 * tips) % 2 == 0, r, r / 2)
    x0, y0, w, h = sq
    w, h = max(w, 0.01), max(h, 0.01)
    rings = {
        "star": ([float(v) for v in cx + rad * np.cos(ang)], [float(v) for v in cy + rad * np.sin(ang)]),
        "square": ([x0, x0 + w, x0 + w, x0], [y0, y0, y0 + h, y0 + h]),
    }
    xy = list(pts)
    for rx, ry in rings.values():
        xy += list(zip(rx, ry))
    xy += [(x0 + w * f, y) for f in (0.0, 0.3, 0.5, 1.0) for y in (y0, y0 + h)]
    widths = [max(rx) - min(rx) for rx, _ry in rings.values()]
    heights = [max(ry) - min(ry) for _rx, ry in rings.values()]
    for rx, ry in rings.values():
        xy += _grid_lines(spark, min(rx), min(ry), max(rx), max(ry), widths, heights)
    px = np.array([float(x) for x, _y in xy])
    py = np.array([float(y) for _x, y in xy])
    points = spark.createDataFrame([(i, float(px[i]), float(py[i])) for i in range(len(xy))],
                                   "point_id long, lon double, lat double")
    ring_df = spark.createDataFrame([(k, rx, ry) for k, (rx, ry) in rings.items()],
                                    "poly_id string, ring_lon array<double>, ring_lat array<double>")
    want = {(int(i), k) for k, (rx, ry) in rings.items()
            for i in np.nonzero(_ray_cast_np(px, py, rx, ry))[0]}
    got = {(r.point_id, r.poly_id) for r in pip_ring_join(points, ring_df).collect()}
    assert got == want


@settings(max_examples=8, deadline=None)
@given(pts=st.lists(_pt_st, min_size=1, max_size=60), dup=st.integers(min_value=0, max_value=5),
       qs=st.lists(_pt_st, min_size=1, max_size=4), k=st.integers(min_value=1, max_value=6))
def test_knn_join_matches_brute_force(pts, dup, qs, k):
    """knn_join vs a numpy top-k by (scaled-degree distance, point id), with
    duplicated points and a query placed exactly on a point."""
    from stac_to_geocore_spark.session import get_spark
    from stac_to_geocore_spark.spatial.knn import knn_join

    spark = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    # two far corners bound the extent, so the first radius (sized from
    # the extent) converges within max_iter doublings on any draw
    xy = [(-101.0, 49.0), (-86.0, 62.0)] + list(pts) + list(pts[:dup])
    qs = list(qs) + [xy[2]]
    plon = np.array([float(x) for x, _y in xy])
    plat = np.array([float(y) for _x, y in xy])
    points = spark.createDataFrame([(i, float(plon[i]), float(plat[i])) for i in range(len(xy))],
                                   "image_id long, lon double, lat double")
    queries = pd.DataFrame({"query_id": [f"q{i}" for i in range(len(qs))],
                            "lon": [float(x) for x, _y in qs], "lat": [float(y) for _x, y in qs]})
    got = knn_join(points, queries, k=k).toPandas()
    kk = min(k, len(xy))
    for q in queries.itertuples(index=False):
        dx = (q.lon - plon) * np.cos(np.radians((q.lat + plat) / 2.0))
        dy = q.lat - plat
        order = np.lexsort((np.arange(len(xy)), dx * dx + dy * dy))
        mine = got[got.query_id == q.query_id].sort_values("rank")["point_id"].tolist()
        assert mine == order[:kk].tolist(), q.query_id
