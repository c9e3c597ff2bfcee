"""Physical-plan contracts: the shapes that make the engine scale must not
regress (SURVEY.md §4). These assert on .explain output, not timings — the
properties that survive a 100x scale-up."""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from stac_to_geocore_spark.fixtures import images_df, polygons_df
from stac_to_geocore_spark.pipeline import flagship


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_flagship_plan_shape(spark):
    p = _plan(flagship(images_df(spark, 10_000, bytes_mode="none"), polygons_df(spark, 32)))
    # box cells broadcast; the images side must never shuffle
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert p.count("Exchange") == p.count("BroadcastExchange"), "non-broadcast shuffle crept into the flagship"
    join = re.search(r"^\(\d+\) BroadcastHashJoin\n(.*?)\n\n", p, re.M | re.S).group(1)
    # the shared grid join: keyed on the grid cell, not on any H3 cell
    assert re.search(r"Left keys \[2\]: \[gx#\d+L, gy#\d+L\]", join), join
    assert re.search(r"Right keys \[2\]: \[gx#\d+L, gy#\d+L\]", join), join
    # closed bbox refine fused into the join (filter-refine, no second pass)
    cond = join.split("Join condition: ", 1)[1]
    for term in (r"lon#\d+ >= west#", r"lon#\d+ <= east#", r"lat#\d+ >= south#", r"lat#\d+ <= north#"):
        assert re.search(term, cond), cond
    # one fused encode UDF; the join adds no Python stage
    assert len(re.findall(r"^\(\d+\) ArrowEvalPython$", p, re.M)) == 1, p


def test_flagship_scan_pruned(spark, tmp_path):
    path = str(tmp_path / "imgs")
    images_df(spark, 5_000, bytes_mode="none").write.parquet(path)
    p = _plan(flagship(spark.read.parquet(path), polygons_df(spark, 8)))
    scan_lines = [l for l in p.splitlines() if "ReadSchema" in l]
    assert scan_lines, p
    # bytes/caption/phash are not read — column pruning reaches the scan
    assert all("bytes" not in l and "caption" not in l for l in scan_lines), scan_lines


def test_pip_join_broadcasts_covers_not_points(spark):
    """The covers side must be the broadcast build side. Catalyst's size
    estimates were picking the exploded POINTS side at small sf (round-3
    find) — harmless locally, fatal at 10^12 points — so pip_join pins
    F.broadcast on driver-planned covers."""
    import pandas as pd
    import numpy as np

    from stac_to_geocore_spark.fixtures import POLYGONS_SCHEMA, gen_polygons_pdf, image_centroids
    from stac_to_geocore_spark.spatial.pip import pip_join

    lon, lat = image_centroids(np.arange(1000), seed=31)
    pts = spark.createDataFrame(
        pd.DataFrame({"image_id": [f"p{i}" for i in range(1000)], "lon": lon, "lat": lat})
    )
    polys = spark.createDataFrame(gen_polygons_pdf(16, seed=5), POLYGONS_SCHEMA)
    p = _plan(pip_join(pts, polys))
    assert "BroadcastHashJoin" in p
    # build side = the LocalTableScan covers (BuildRight with points on the
    # left); the points side (ArrowEvalPython encode) must NOT sit under a
    # BroadcastExchange
    assert "BuildRight" in p and "BuildLeft" not in p, p.splitlines()[:20]


def test_q1_partial_aggregation(spark):
    import __spark_entry__ as m

    p = _plan(m.queries()["q1_pricing_summary"](spark, "/root/testdata/sf0.001"))
    assert "partial" in p.lower(), "map-side combine missing from groupBy plan"
    assert [l for l in p.splitlines() if "PushedFilters" in l and "l_shipdate" in l] or \
           "l_shipdate" in p, "shipdate filter not near the scan"


def test_dim_joins_broadcast(spark):
    import __spark_entry__ as m

    p = _plan(m.queries()["q5_local_supplier"](spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in p  # nation/region dims


def test_bbox_overlap_both_big_sort_merges_never_broadcasts(spark, monkeypatch):
    """Both sides above DRIVER_DIM_MAX: the cell equi-join must be a
    SortMergeJoin on the cell key — a broadcast of a multi-million-row
    cover side OOMs real drivers (observed in a vanilla 1g session) and is
    never the 100 TB plan."""
    import numpy as np
    import pandas as pd

    import stac_to_geocore_spark.spatial.overlap as ov

    rng = np.random.default_rng(23)
    n = 200
    w = rng.uniform(-120, -70, n)
    s = rng.uniform(45, 70, n)
    df = spark.createDataFrame(pd.DataFrame({
        "poly_id": [f"b{i}" for i in range(n)],
        "west": w, "south": s, "east": w + 0.5, "north": s + 0.4,
    }))
    monkeypatch.setattr(ov, "DRIVER_DIM_MAX", 50)
    p = _plan(ov.bbox_overlap_join(df, df))
    assert "SortMergeJoin" in p, p.splitlines()[:25]
    assert "BroadcastHashJoin" not in p


def test_bbox_overlap_small_side_broadcasts(spark, monkeypatch):
    """One side dim-sized: the smaller side's cells are the broadcast build
    side, whichever argument it is — never the big side."""
    import stac_to_geocore_spark.spatial.overlap as ov

    big = polygons_df(spark, 120)
    small = polygons_df(spark, 30, seed=5)
    monkeypatch.setattr(ov, "DRIVER_DIM_MAX", 50)
    for a, b, build in ((small, big, "BuildLeft"), (big, small, "BuildRight")):
        p = _plan(ov.bbox_overlap_join(a, b))
        assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p, p.splitlines()[:25]
        assert build in p, p.splitlines()[:25]


_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas")


def _sql_plans_of(spark, run) -> list[str]:
    """Physical plans of every SQL execution `run()` issues, read from the
    SQL status store (final adaptive plans). The store keeps only the last
    spark.ui.retainedExecutions entries, sorted by id, so the new ones are
    found by walking back from the newest to the id seen before the run."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()

    def newest(n):
        return store.executionsList(n - 1, 1).apply(0)

    bus.waitUntilEmpty()
    n = store.executionsCount()
    last = newest(n).executionId() if n else -1
    run()
    bus.waitUntilEmpty()
    plans, n = [], store.executionsCount()
    while n and newest(n).executionId() > last:
        plans.append(newest(n).physicalPlanDescription())
        n -= 1
    return plans


@pytest.mark.parametrize("name", ["pip_assign", "pip_salted", "pip_ring", "knn_ring", "bbox_overlap"])
def test_spatial_join_plans_have_no_python_node(spark, name):
    """Every spatial join takes its candidates from the shared JVM grid
    generator (spatial/grid.py), so no plan the query runs crosses into
    Python: neither the final executed plan of its result nor any SQL
    execution issued while building it (stats probes, kNN rounds)."""
    import __spark_entry__ as m

    out = {}

    def run():
        out["df"] = df = m.queries()[name](spark, "/root/testdata/sf0.01")
        assert df.collect()

    plans = _sql_plans_of(spark, run)
    assert plans
    final = out["df"]._jdf.queryExecution().executedPlan().toString()
    for plan in [final.split("== Initial Plan ==")[0]] + plans:
        for node in _PYTHON_NODES:
            assert node not in plan, f"{name}: {node} in\n{plan[:3000]}"
