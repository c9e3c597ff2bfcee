"""Spatial operators vs brute-force numpy oracles (SURVEY.md §5.2 item 3):
PIP join and kNN must match O(n*m) exact computation EXACTLY."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from stac_to_geocore_spark.fixtures import POLYGONS_SCHEMA, gen_polygons_pdf, image_centroids
from stac_to_geocore_spark.spatial.cover import adaptive_res, cover_bbox_np
from stac_to_geocore_spark.cells import h3x
from stac_to_geocore_spark.spatial.knn import knn_join
from stac_to_geocore_spark.spatial.pip import pip_join

N_PTS = 4000
RNG = np.random.default_rng(99)


@pytest.fixture(scope="module")
def points_pdf():
    lon, lat = image_centroids(np.arange(N_PTS), seed=7)
    return pd.DataFrame({"image_id": [f"p{i:06d}" for i in range(N_PTS)], "lon": lon, "lat": lat})


@pytest.fixture(scope="module")
def polys_pdf():
    return gen_polygons_pdf(30, seed=7)


def _brute_pairs(points_pdf, polys_pdf) -> set:
    out = set()
    for p in polys_pdf.itertuples(index=False):
        m = (
            (points_pdf.lon >= p.west) & (points_pdf.lon <= p.east)
            & (points_pdf.lat >= p.south) & (points_pdf.lat <= p.north)
        )
        out |= {(pid, p.poly_id) for pid in points_pdf.image_id[m]}
    return out


def test_cover_superset_random_bboxes():
    for _ in range(15):
        w = RNG.uniform(-140, -60); s = RNG.uniform(42, 80)
        e = w + RNG.uniform(0.05, 5); n = s + RNG.uniform(0.05, 5)
        res = adaptive_res(w, s, e, n)
        assert 5 <= res <= 9
        cells, full = cover_bbox_np(w, s, e, n, res)
        plon = RNG.uniform(w, e, 2000); plat = RNG.uniform(s, n, 2000)
        assert np.isin(h3x.h3_encode_np(plat, plon, res), cells).all()
        assert full.sum() <= len(cells)


def test_cover_includes_face_entering_between_samples():
    """A face that enters the bbox between two bbox samples is enumerated:
    this point encodes on face 2, which no sample of the box maps to (the
    cover used to hold only faces 0, 1, 3 and 6 and missed the point)."""
    cells, _full = cover_bbox_np(-90.03, 56.59, -88.55, 59.36, 5)
    p = h3x.h3_encode_np(np.array([58.28263045]), np.array([-90.01400873]), 5)
    assert h3x.h3_unpack(p)[0][0] == 2
    assert np.isin(p, cells).all()


def test_pip_join_broadcast_exact(spark, points_pdf, polys_pdf):
    pts = spark.createDataFrame(points_pdf)
    polys = spark.createDataFrame(polys_pdf, POLYGONS_SCHEMA)
    got = {(r.image_id, r.poly_id) for r in pip_join(pts, polys, broadcast_covers=True).collect()}
    assert got == _brute_pairs(points_pdf, polys_pdf)


def test_pip_join_salted_shuffle_exact(spark, points_pdf, polys_pdf):
    pts = spark.createDataFrame(points_pdf)
    polys = spark.createDataFrame(polys_pdf, POLYGONS_SCHEMA)
    got = {
        (r.image_id, r.poly_id)
        for r in pip_join(pts, polys, broadcast_covers=False, salt_factor=4).collect()
    }
    assert got == _brute_pairs(points_pdf, polys_pdf)


def test_pip_join_no_polygons(spark, points_pdf, polys_pdf):
    from stac_to_geocore_spark.pipeline import flagship

    pts = spark.createDataFrame(points_pdf)
    empty = spark.createDataFrame([], POLYGONS_SCHEMA)
    assert pip_join(pts, empty).count() == 0
    # the flagship's empty result keeps its 9-column schema
    out = flagship(pts, empty)
    assert out.count() == 0
    assert out.schema == flagship(pts, spark.createDataFrame(polys_pdf, POLYGONS_SCHEMA)).schema
    assert out.columns == ["image_id", "poly_id", "lon", "lat", "h3_r7", "cell_p5",
                           "s2_l12", "tile_z12_x", "tile_z12_y"]


def test_knn_exact_vs_brute_force(spark, points_pdf):
    queries = pd.DataFrame(
        {"query_id": [f"q{i}" for i in range(5)],
         "lon": [-118.3, -92.7, -68.6, -135.0, -77.7],
         "lat": [54.3, 63.4, 49.3, 75.5, 70.3]}
    )
    k = 7
    pts = spark.createDataFrame(points_pdf)
    got = knn_join(pts, queries, k=k).toPandas()
    assert len(got) == 5 * k
    for q in queries.itertuples(index=False):
        dx = (q.lon - points_pdf.lon) * np.cos(np.radians((q.lat + points_pdf.lat) / 2))
        dy = q.lat - points_pdf.lat
        d2 = (dx * dx + dy * dy).to_numpy()
        order = np.lexsort((points_pdf.image_id.to_numpy(), d2))
        want = list(points_pdf.image_id.to_numpy()[order[:k]])
        mine = got[got.query_id == q.query_id].sort_values("rank")["point_id"].tolist()
        assert mine == want, q.query_id


def test_flagship_matches_brute_force(spark, points_pdf, polys_pdf):
    from stac_to_geocore_spark.cells.s2 import s2_encode_np
    from stac_to_geocore_spark.cells.tiles import tile_xy_np
    from stac_to_geocore_spark.pipeline import flagship

    polys = spark.createDataFrame(polys_pdf, POLYGONS_SCHEMA)
    pts = spark.createDataFrame(points_pdf)
    out = flagship(pts, polys).toPandas()
    assert {(r.image_id, r.poly_id) for r in out.itertuples(index=False)} == _brute_pairs(points_pdf, polys_pdf)
    # encoded columns match the numpy twins row-by-row
    ex, ey = tile_xy_np(out.lon.to_numpy(), out.lat.to_numpy(), 12)
    assert (out.tile_z12_x.to_numpy() == ex).all() and (out.tile_z12_y.to_numpy() == ey).all()
    assert (out.h3_r7.to_numpy() == h3x.h3_encode_np(out.lat.to_numpy(), out.lon.to_numpy(), 7)).all()
    assert (out.cell_p5.to_numpy() == h3x.h3_encode_np(out.lat.to_numpy(), out.lon.to_numpy(), 5)).all()
    assert (out.s2_l12.to_numpy() == s2_encode_np(out.lat.to_numpy(), out.lon.to_numpy(), 12)).all()


def test_flagship_salted_path_same_result(spark, points_pdf, polys_pdf):
    from stac_to_geocore_spark.pipeline import flagship

    polys = spark.createDataFrame(polys_pdf, POLYGONS_SCHEMA)
    pts = spark.createDataFrame(points_pdf)
    plain = {(r.image_id, r.poly_id) for r in flagship(pts, polys).collect()}
    salted = {
        (r.image_id, r.poly_id)
        for r in flagship(pts, polys, broadcast_covers=False, salt_factor=8).collect()
    }
    assert plain == salted


def test_bbox_overlap_join_vs_brute_force(spark):
    """Region-region bbox overlap: cover equi-join + refine must equal the
    O(n*m) predicate — including containment, edge-touching, and disjoint."""
    import itertools

    from stac_to_geocore_spark.spatial.overlap import bbox_overlap_join

    rows = [
        ("p0", -100.0, 40.0, -90.0, 50.0),
        ("p1", -95.0, 45.0, -85.0, 55.0),    # overlaps p0
        ("p2", -98.0, 42.0, -96.0, 44.0),    # contained in p0
        ("p3", -90.0, 50.0, -80.0, 60.0),    # touches p0 at a corner
        ("p4", -60.0, 40.0, -50.0, 50.0),    # disjoint
        ("p5", -120.0, 70.0, -60.0, 80.0),   # wide northern strip
    ]
    schema = "poly_id string, west double, south double, east double, north double"
    df = spark.createDataFrame(rows, schema)
    got = {
        (r.id_a, r.id_b)
        for r in bbox_overlap_join(df, df).filter("id_a < id_b").collect()
    }
    want = set()
    for a, b in itertools.combinations(rows, 2):
        if a[1] <= b[3] and a[3] >= b[1] and a[2] <= b[4] and a[4] >= b[2]:
            want.add((a[0], b[0]))
    assert got == want and ("p0", "p3") in got and ("p0", "p2") in got


def _scatter_boxes(spark, n, hot_fraction=0.0):
    """> DRIVER_DIM_MAX synthetic boxes; hot_fraction of them stacked on one
    location (a 'dense city') so their covers pile onto the same few cells."""
    from pyspark.sql import functions as Fx

    # QUADRATIC scatter (m*m + c*m): a linear multiplicative scatter of
    # consecutive ids is a low-discrepancy lattice with NO close pairs —
    # the join would be vacuous (the round-4 fixture lesson)
    m1 = Fx.pmod(Fx.col("id") * 40503 + 17, Fx.lit(86000))
    m2 = Fx.pmod(Fx.col("id") * 9851 + 3, Fx.lit(40000))
    df = spark.range(n).select(
        Fx.concat(Fx.lit("b"), Fx.col("id").cast("string")).alias("poly_id"),
        (Fx.lit(-140.0) + Fx.pmod(m1 * m1 + 7 * m1, Fx.lit(86000)) / 1000.0).alias("lon"),
        (Fx.lit(42.0) + Fx.pmod(m2 * m2 + 13 * m2, Fx.lit(40000)) / 1000.0).alias("lat"),
        Fx.col("id"),
    )
    if hot_fraction:
        cut = int(n * hot_fraction)
        df = df.select(
            "poly_id",
            Fx.when(Fx.col("id") < cut, Fx.lit(-70.0) + Fx.col("id") / 1e7).otherwise(Fx.col("lon")).alias("lon"),
            Fx.when(Fx.col("id") < cut, Fx.lit(45.0) + Fx.col("id") / 1e7).otherwise(Fx.col("lat")).alias("lat"),
        )
    return df.select(
        "poly_id",
        (F.col("lon") - 0.03).alias("west"), (F.col("lat") - 0.02).alias("south"),
        (F.col("lon") + 0.03).alias("east"), (F.col("lat") + 0.02).alias("north"),
    )


def test_bbox_overlap_self_join_reuses_exchange(spark):
    """Both-big SELF-join with no hot cells: the grid cells must be computed
    and shuffled ONCE (ReusedExchange on the second SMJ input), with NO
    Python boundary and NO post-join dedup aggregate anywhere in the plan —
    the anchor-cell rule makes the join output distinct by construction."""
    from stac_to_geocore_spark.spatial.overlap import bbox_overlap_join

    polys = _scatter_boxes(spark, 11000)
    out = bbox_overlap_join(polys, polys).filter("id_a < id_b")
    out.collect()  # the df's OWN execution -> final adaptive plan below
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # drop the pre-AQE echo
    # zero Python nodes: the whole operator is JVM column math now
    for py_node in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert py_node not in final, final[:2000]
    assert "ReusedExchange" in final
    # no distinct(): pairs are exact-once via the anchor-cell predicate
    assert "HashAggregate" not in final and "SortAggregate" not in final, final[:2000]


def _overlap(polys_a, polys_b):
    """bbox_overlap_join's (id_a, id_b) rows as a sorted list (a multiset,
    so a duplicated pair shows) and its physical plan."""
    from stac_to_geocore_spark.spatial.overlap import bbox_overlap_join

    out = bbox_overlap_join(polys_a, polys_b)
    rows = sorted((r.id_a, r.id_b) for r in out.collect())
    return rows, out._jdf.queryExecution().executedPlan().toString()


def _overlap_broadcast(monkeypatch, polys_a, polys_b):
    """_overlap routed through the broadcast join: DRIVER_DIM_MAX above
    both sides' row counts."""
    import stac_to_geocore_spark.spatial.overlap as ov

    with monkeypatch.context() as m:
        m.setattr(ov, "DRIVER_DIM_MAX", 10**6)
        rows, plan = _overlap(polys_a, polys_b)
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    return rows


def test_bbox_overlap_salted_hot_cells_same_result(spark, monkeypatch):
    """A stacked 'city' of boxes (the fixture that once triggered hot-cell
    salting): the both-big sort-merge self-join must return EXACTLY the
    broadcast route's rows, hot cells and all."""
    polys = _scatter_boxes(spark, 10500, hot_fraction=0.02)
    # hot_fraction puts ~210 near-identical boxes on one spot: their cells
    # pile up far above the mean cell count
    got, plan = _overlap(polys, polys)
    assert "SortMergeJoin" in plan
    assert got == _overlap_broadcast(monkeypatch, polys, polys) and len(got) > 0


def test_bbox_overlap_non_self_paths_match_self_join(spark, monkeypatch):
    """A two-table join over identical rows must return exactly what the
    self-join returns — a second DataFrame over the same rows is NOT
    `is`-identical, so it takes the path real two-table joins take (two
    stats probes, two cell plans) — on both routes."""
    polys = _scatter_boxes(spark, 10500, hot_fraction=0.02)
    other = polys.select("*")  # same rows, different plan object
    assert other is not polys
    ref, _ = _overlap(polys, polys)
    sym, plan = _overlap(polys, other)
    assert "SortMergeJoin" in plan
    assert sym == ref and len(ref) > 0
    assert _overlap_broadcast(monkeypatch, polys, other) == ref


def test_bbox_overlap_salts_hot_cells_on_side_b_only(spark, monkeypatch):
    """A 'dense city' present ONLY on side B (sparse AOIs joined against a
    dense footprint table): the sort-merge join must return exactly the
    broadcast route's rows."""
    polys_a = _scatter_boxes(spark, 10500)                       # uniform
    polys_b = _scatter_boxes(spark, 10500, hot_fraction=0.02)    # hot stack
    got, plan = _overlap(polys_a, polys_b)
    assert "SortMergeJoin" in plan
    assert got == _overlap_broadcast(monkeypatch, polys_a, polys_b) and len(got) > 0


def _jobs_in_group(spark, group, run):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_bbox_overlap_self_join_builds_with_one_stats_probe(spark):
    """BUILDING a both-big self-join (before any action) runs only the one
    stats aggregation over its one input, which AQE runs as at most 2
    jobs: no histogram probe, no second measurement of the same input."""
    from stac_to_geocore_spark.spatial.overlap import bbox_overlap_join

    polys = _scatter_boxes(spark, 11000)
    assert _jobs_in_group(spark, "overlap-build-jobs", lambda: bbox_overlap_join(polys, polys)) <= 2


@pytest.mark.parametrize("bad", [
    ("dateline", 170.0, -10.0, -170.0, 10.0),
    ("upside-down", 10.0, 5.0, 11.0, 4.0),
    ("nan", float("nan"), 0.0, 1.0, 1.0),
    ("inf", 0.0, 0.0, float("inf"), 1.0),
    ("null", 0.0, None, 1.0, 1.0),
], ids=lambda b: b[0])
def test_spatial_joins_reject_bad_boxes(spark, bad):
    """A box the grid cannot cover must fail loudly in both box joins: a
    dateline box (west > east) used to drop its true overlaps silently
    from bbox_overlap_join and crash pip_join inside sequence(), and a
    NaN box vanished from both."""
    from stac_to_geocore_spark.spatial.overlap import bbox_overlap_join

    rows = [bad] + [(f"b{x}", float(x), -1.0, x + 0.5, 1.0) for x in (175, 176, 177, 178, -179, -178)]
    schema = "poly_id string, west double, south double, east double, north double"  # nullable
    boxes = spark.createDataFrame(rows, schema)
    good = spark.createDataFrame(rows[1:], schema)
    pts = spark.createDataFrame([("p0", 175.2, 0.0)], "image_id string, lon double, lat double")
    for run in (lambda: bbox_overlap_join(boxes, boxes),
                lambda: bbox_overlap_join(good, boxes),
                lambda: pip_join(pts, boxes)):
        with pytest.raises(ValueError, match=r"^1 box row\(s\) .* must be split"):
            run()


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), None], ids=["nan", "inf", "null"])
def test_knn_join_rejects_non_finite_queries_before_any_job(spark, points_pdf, bad):
    """A query with no finite position used to run all max_iter radius
    doublings and end in "did not converge"; it must fail on the driver
    before the extent job."""
    pts = spark.createDataFrame(points_pdf)
    q = pd.DataFrame({"query_id": ["q0", "q1"], "lon": [-100.0, bad], "lat": [50.0, 51.0]})

    def run():
        with pytest.raises(ValueError, match=r"^1 knn_join query row\(s\) have a null or non-finite"):
            knn_join(pts, q, k=3)

    assert _jobs_in_group(spark, f"knn-bad-query-{bad}", run) == 0


@pytest.mark.parametrize("where", ["first", "last"])
@pytest.mark.parametrize("bad", [float("nan"), float("-inf"), None], ids=["nan", "inf", "null"])
def test_pip_ring_join_rejects_non_finite_vertices(spark, where, bad):
    """A NaN vertex used to give a bbox that depended on its position in the
    ring (Python min/max skip a NaN only when it is not first), so the same
    square matched 40 or 214 points; any null or non-finite vertex must
    raise, naming the ring, before any job of the join runs."""
    from stac_to_geocore_spark.session import local_df
    from stac_to_geocore_spark.spatial.pip import pip_ring_join

    sq_lon, sq_lat = [-100.0, -99.0, -99.0, -100.0], [50.0, 50.0, 51.0, 51.0]
    bad_lon = [bad] + sq_lon if where == "first" else sq_lon + [bad]
    rings = local_df(spark, [
        ("ok", sq_lon, sq_lat),
        ("bad", bad_lon, sq_lat + [50.5]),
    ], "poly_id string, ring_lon array<double>, ring_lat array<double>")
    pts = spark.createDataFrame([(1, -99.5, 50.3)], "point_id long, lon double, lat double")

    def run():
        with pytest.raises(ValueError, match=r"finite ring vertices; .*: \['bad'\]$"):
            pip_ring_join(pts, rings)

    # the one job is the bounded collect of the rings themselves
    assert _jobs_in_group(spark, f"ring-bad-vertex-{where}-{bad}", run) == 1
