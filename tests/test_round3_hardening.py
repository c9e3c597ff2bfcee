"""Round-3 hardening regressions (VERDICT r2 items 3-5 + ADVICE):

- knn_join raises on non-convergence (no silent partial results) and stays
  exact with many queries per round.
- bbox_overlap_join routes sides above DRIVER_DIM_MAX through the
  distributed cell-join path.
- merge_manifest_parts survives a mid-merge crash with the old manifest and
  every part file intact (re-run merges cleanly).
- SnapshotTable commits are compare-and-swap: a metadata file that appears
  concurrently cannot be clobbered.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from stac_to_geocore_spark.fixtures import image_centroids


# ---------------------------------------------------------------- knn_join

def test_knn_raises_on_non_convergence(spark):
    from stac_to_geocore_spark.spatial.knn import knn_join

    lon, lat = image_centroids(np.arange(500), seed=3)
    pts = spark.createDataFrame(
        pd.DataFrame({"image_id": np.arange(500), "lon": lon, "lat": lat})
    )
    # query ~80 degrees away from every point: the first (tiny) radius finds
    # zero candidates, and one iteration is not allowed to expand far enough
    q = pd.DataFrame({"query_id": ["q0"], "lon": [lon.mean() + 80.0], "lat": [lat.mean()]})
    with pytest.raises(RuntimeError, match="did not converge"):
        knn_join(pts, q, k=1, max_iter=1)


def test_knn_exact_beyond_or_chain_cap(spark):
    """Many queries (more than the old 64-clause prefilter cap) in one
    round; results must still be the exact brute-force top-k."""
    from stac_to_geocore_spark.spatial.knn import knn_join

    n = 1500
    lon, lat = image_centroids(np.arange(n), seed=5)
    pts_pdf = pd.DataFrame({"image_id": [f"p{i}" for i in range(n)], "lon": lon, "lat": lat})
    pts = spark.createDataFrame(pts_pdf)
    rng = np.random.default_rng(17)
    nq = 70  # > 64
    q = pd.DataFrame({
        "query_id": [f"q{i:02d}" for i in range(nq)],
        "lon": rng.uniform(lon.min(), lon.max(), nq),
        "lat": rng.uniform(lat.min(), lat.max(), nq),
    })
    k = 3
    got = knn_join(pts, q, k=k).toPandas()
    import math

    for row in q.itertuples(index=False):
        mid = np.radians((row.lat + pts_pdf.lat) / 2.0)
        d2 = ((row.lon - pts_pdf.lon) * np.cos(mid)) ** 2 + (row.lat - pts_pdf.lat) ** 2
        want = pts_pdf.assign(d2=d2).sort_values(["d2", "image_id"]).head(k)["image_id"].tolist()
        have = got[got.query_id == row.query_id].sort_values("rank")["point_id"].tolist()
        assert have == want, f"{row.query_id}: {have} != {want}"


def test_knn_k_exceeds_point_count_ranks_all_points(spark):
    """k > n_pts must return the exact full ranking of every point (the old
    path returned whatever the first radius happened to find — possibly
    nothing)."""
    from stac_to_geocore_spark.spatial.knn import knn_join

    n = 7
    lon, lat = image_centroids(np.arange(n), seed=9)
    pts_pdf = pd.DataFrame({"image_id": [f"p{i}" for i in range(n)], "lon": lon, "lat": lat})
    pts = spark.createDataFrame(pts_pdf)
    q = pd.DataFrame({"query_id": ["q0"], "lon": [lon.mean() + 30.0], "lat": [lat.mean()]})
    got = knn_join(pts, q, k=50).toPandas().sort_values("rank")
    assert len(got) == n
    mid = np.radians((q.lat[0] + pts_pdf.lat) / 2.0)
    d2 = ((q.lon[0] - pts_pdf.lon) * np.cos(mid)) ** 2 + (q.lat[0] - pts_pdf.lat) ** 2
    want = pts_pdf.assign(d2=d2).sort_values(["d2", "image_id"])["image_id"].tolist()
    assert got["point_id"].tolist() == want


# ------------------------------------------------------- bbox_overlap_join

def test_bbox_overlap_distributed_path_no_driver_collect(spark, monkeypatch):
    """Both sides above DRIVER_DIM_MAX: the join runs distributed (a
    cell equi-join, nothing but stats scalars reaches the driver), and the
    pair set must match the analytic neighbor structure of a grid."""
    import stac_to_geocore_spark.spatial.overlap as ov

    # grid of 1d-wide boxes spaced 0.9 apart -> each box overlaps exactly
    # its horizontal neighbors (closed edges): (i, i+1) for i in 0..n-2
    n = 120
    big = spark.createDataFrame(pd.DataFrame({
        "poly_id": [f"g{i:04d}" for i in range(n)],
        "west": [-170.0 + 0.9 * i for i in range(n)],
        "south": [10.0] * n,
        "east": [-169.0 + 0.9 * i for i in range(n)],
        "north": [11.0] * n,
    }))

    monkeypatch.setattr(ov, "DRIVER_DIM_MAX", 50)
    pairs = (
        ov.bbox_overlap_join(big, big)
        .filter(F.col("id_a") < F.col("id_b"))
        .toPandas()
    )
    want = {(f"g{i:04d}", f"g{i + 1:04d}") for i in range(n - 1)}
    got = set(zip(pairs.id_a, pairs.id_b))
    assert got == want, f"missing={want - got} extra={got - want}"


def test_bbox_overlap_mixed_small_big_matches_small_small(spark, monkeypatch):
    """Big x small must produce the same pairs as the all-driver-side plan."""
    import stac_to_geocore_spark.spatial.overlap as ov
    from stac_to_geocore_spark.fixtures import POLYGONS_SCHEMA, gen_polygons_pdf

    pa = spark.createDataFrame(gen_polygons_pdf(40, seed=3), POLYGONS_SCHEMA)
    pb = spark.createDataFrame(gen_polygons_pdf(25, seed=9), POLYGONS_SCHEMA)
    small = ov.bbox_overlap_join(pa, pb).toPandas()
    monkeypatch.setattr(ov, "DRIVER_DIM_MAX", 10)
    forced = ov.bbox_overlap_join(pa, pb).toPandas()
    key = lambda df: set(zip(df.id_a, df.id_b))  # noqa: E731
    assert key(small) == key(forced)


def test_pip_join_distributed_covers_path_exact(spark):
    """broadcast_covers=False with no salt leaves the box cells to a
    shuffle join (asserted on the plan with auto-broadcast off);
    assignments must match the pinned-broadcast path exactly."""
    from stac_to_geocore_spark.fixtures import POLYGONS_SCHEMA, gen_polygons_pdf, image_centroids
    from stac_to_geocore_spark.spatial.pip import pip_join

    lon, lat = image_centroids(np.arange(2000), seed=21)
    pts = spark.createDataFrame(
        pd.DataFrame({"image_id": [f"p{i}" for i in range(2000)], "lon": lon, "lat": lat})
    )
    polys = spark.createDataFrame(gen_polygons_pdf(20, seed=13), POLYGONS_SCHEMA)
    dim = pip_join(pts, polys, broadcast_covers=True).toPandas()
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        shuffled = pip_join(pts, polys, broadcast_covers=False)
        dist = shuffled.toPandas()
        plan = shuffled._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, old)
    assert "BroadcastHashJoin" not in plan, plan[:2000]
    key_of = lambda df: set(zip(df.image_id, df.poly_id))  # noqa: E731
    assert key_of(dim) == key_of(dist)
    assert len(key_of(dim)) > 0


# ------------------------------------------------- manifest merge durability

def _parts_state(store):
    from stac_to_geocore_spark.sources import sinks

    live = os.path.isdir(store._path(sinks.PARTS_PREFIX))
    consumed = os.path.isdir(store._path(sinks.PARTS_PREFIX) + sinks.CONSUMED_SUFFIX)
    return live, consumed


def test_merge_crash_before_publish_recovers(tmp_path):
    """Crash between staging (parts -> consumed) and manifest publish: the
    old manifest is untouched, ALL parts survive in the consumed dir, and a
    re-run completes the merge with no key lost."""
    from stac_to_geocore_spark.sources import sinks

    store = sinks.LocalObjectStore(str(tmp_path))
    store.put(sinks.MANIFEST_KEY, "old-key\n")
    store.put(f"{sinks.PARTS_PREFIX}/part-00000.txt", "a\nb\n")
    store.put(f"{sinks.PARTS_PREFIX}/part-00001.txt", "c\n")
    # simulate the crash window after step 1: parts staged, nothing published
    os.rename(
        store._path(sinks.PARTS_PREFIX),
        store._path(sinks.PARTS_PREFIX) + sinks.CONSUMED_SUFFIX,
    )
    assert store.get(sinks.MANIFEST_KEY) == "old-key\n"
    n = sinks.merge_manifest_parts(store)  # the prescribed recovery: re-run
    assert n == 3
    assert store.get(sinks.MANIFEST_KEY) == "a\nb\nc\n"
    assert _parts_state(store) == (False, False)


def test_merge_crash_after_publish_is_idempotent(tmp_path):
    """Crash between manifest publish and staging cleanup: a re-run rebuilds
    the IDENTICAL manifest from the same consumed parts — no key dropped
    (round 2's per-part deletion made this state lose keys)."""
    from stac_to_geocore_spark.sources import sinks

    store = sinks.LocalObjectStore(str(tmp_path))
    store.put(f"{sinks.PARTS_PREFIX}/part-00000.txt", "a\nb\n")
    store.put(f"{sinks.PARTS_PREFIX}/part-00001.txt", "c\n")
    n = sinks.merge_manifest_parts(store)
    assert n == 3
    # simulate: the publish happened but the consumed dir survived a crash
    os.makedirs(store._path(sinks.PARTS_PREFIX) + sinks.CONSUMED_SUFFIX, exist_ok=True)
    with open(
        os.path.join(store._path(sinks.PARTS_PREFIX) + sinks.CONSUMED_SUFFIX, "part-00000.txt"),
        "w",
    ) as f:
        f.write("a\nb\n")
    with open(
        os.path.join(store._path(sinks.PARTS_PREFIX) + sinks.CONSUMED_SUFFIX, "part-00001.txt"),
        "w",
    ) as f:
        f.write("c\n")
    n2 = sinks.merge_manifest_parts(store)  # re-run: idempotent
    assert n2 == 3
    assert store.get(sinks.MANIFEST_KEY) == "a\nb\nc\n"
    assert _parts_state(store) == (False, False)


# ------------------------------------------------------ snapshot commit CAS

def test_snapshot_commit_is_compare_and_swap(spark, tmp_path):
    from stac_to_geocore_spark.tables.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbl"))
    df = spark.range(5).withColumnRenamed("id", "v")
    v1 = t.overwrite(df)
    assert v1 == 1
    # a concurrent writer publishes v2 while OUR writer still holds the
    # stale latest=1 read: simulate by making the first latest_version()
    # call return the stale value, so _commit attempts v2, collides with
    # the foreign file, and must retry (not clobber)
    foreign = {"version": 2, "op": "append", "dirs": ["/elsewhere"], "ts": 0.0}
    with open(os.path.join(t.meta_dir, "v2.json"), "w") as f:
        json.dump(foreign, f)
    real_latest = t.latest_version
    stale = {"used": False}

    def stale_then_real():
        if not stale["used"]:
            stale["used"] = True
            return 1
        return real_latest()

    t.latest_version = stale_then_real
    # first attempt targets v2 -> conflict -> retry recomputes prev from the
    # WINNER's v2, so the retried append must include the foreign dirs
    v3 = t._commit("append", lambda prev: prev + ["/mine"])
    assert v3 == 3
    with open(os.path.join(t.meta_dir, "v2.json")) as f:
        assert json.load(f) == foreign  # the foreign commit survived intact
    t.latest_version = real_latest
    assert t.latest_version() == 3
    v3_dirs = t._snapshot(3)["dirs"]
    # no lost update: the loser's retry sees the winner's commit
    assert "/elsewhere" in v3_dirs and "/mine" in v3_dirs


# ------------------------------------------- overlap grid-step invariance


def test_overlap_join_output_invariant_under_res_choice(spark, monkeypatch):
    """Same exact pair set at the default grid resolution (step), a much
    finer one, and a much coarser one — the refine predicate makes the
    step a pure performance knob."""
    import stac_to_geocore_spark.spatial.overlap as ov

    rows = []
    import numpy as np

    rng = np.random.default_rng(11)
    for i in range(60):
        w = rng.uniform(-100, -90)
        s = rng.uniform(50, 58)
        rows.append((f"b{i}", float(w), float(s), float(w + 0.4), float(s + 0.3)))
    df = spark.createDataFrame(rows, "poly_id string, west double, south double, east double, north double")

    def pairs(cells_per_box=ov.CELLS_PER_BOX, max_cells=ov.MAX_CELLS):
        with monkeypatch.context() as m:
            m.setattr(ov, "CELLS_PER_BOX", cells_per_box)
            m.setattr(ov, "MAX_CELLS", max_cells)
            return {
                (r.id_a, r.id_b)
                for r in ov.bbox_overlap_join(df, df).filter("id_a < id_b").collect()
            }

    tuned = pairs()
    assert tuned == pairs(cells_per_box=64.0)
    assert tuned == pairs(cells_per_box=0.01)
    assert tuned == pairs(cells_per_box=64.0, max_cells=4)
    assert len(tuned) > 0
