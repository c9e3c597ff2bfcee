"""General-polygon (ring) PIP: grid-cell filter + exact ray-cast refine
(spatial/pip.pip_ring_join) must match brute-force numpy on non-rectangular
polygons — the path real GeoCore collection footprints would take."""

from __future__ import annotations

import numpy as np
import pandas as pd

from stac_to_geocore_spark.spatial.pip import pip_ring_join


def _star_ring(cx: float, cy: float, r_out: float, r_in: float, n: int = 5):
    """Non-convex star polygon (alternating outer/inner vertices)."""
    ang = np.linspace(0, 2 * np.pi, 2 * n, endpoint=False)
    rad = np.where(np.arange(2 * n) % 2 == 0, r_out, r_in)
    return cx + rad * np.cos(ang), cy + rad * np.sin(ang)


def _brute_pip(px, py, rx, ry):
    x1, y1 = rx, ry
    x2, y2 = np.roll(rx, -1), np.roll(ry, -1)
    out = np.zeros(len(px), dtype=bool)
    for i in range(len(px)):
        crosses = ((y1 > py[i]) != (y2 > py[i])) & (
            px[i] < (x2 - x1) * (py[i] - y1) / (y2 - y1) + x1
        )
        out[i] = crosses.sum() % 2 == 1
    return out


def test_ring_refine_matches_brute_force(spark):
    rng = np.random.default_rng(11)
    rx, ry = _star_ring(-95.0, 55.0, 3.0, 1.2)
    # candidate points around the star's bbox
    px = rng.uniform(-99, -91, 3000)
    py = rng.uniform(51, 59, 3000)
    want = _brute_pip(px, py, rx, ry)

    pts = spark.createDataFrame(pd.DataFrame({"pid": np.arange(3000), "lon": px, "lat": py}))
    rings = spark.createDataFrame(
        [("star", [float(v) for v in rx], [float(v) for v in ry])],
        "poly_id string, ring_lon array<double>, ring_lat array<double>",
    )
    inside = pip_ring_join(pts, rings, point_id="pid").toPandas()
    assert set(inside.poly_id) == {"star"}
    got = np.zeros(3000, dtype=bool)
    got[inside.pid.to_numpy()] = True
    assert (got == want).all(), f"{(got != want).sum()} disagreements"
    assert want.sum() > 100  # the test actually exercises inside points
