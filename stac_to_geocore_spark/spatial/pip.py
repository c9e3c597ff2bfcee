"""Grid-bucketed point-in-polygon join (filter + refine).

The distributed analogue of the reference's only join — the broadcast
dict-probe at stac_to_geocore.py:553-566 / :589-595 — generalized to spatial
containment per BASELINE.json ("cell-bucketed broadcast or sort-merge
spatial joins for point-in-polygon assignment of images to GeoCore
collection polygons").

Plan shape (all JVM column math; Catalyst/AQE pick physical operators):

  polygons --box_cells--> (poly_id, gx, gy, bbox)   [exact grid ranges]
  points   --point_cell--> (point_id, lon, lat, ..., gx, gy)   [one row/point]
  equi-join on (gx, gy)  broadcast when the box side is dim-sized, else
                         shuffle hash/sort-merge with optional salting
  refine                 closed bbox predicate, or the even-odd ray cast
                         for general rings

Candidates come from the one grid generator every spatial join shares
(spatial/grid.py): a point's cell is one floor-division pair, so the points
table is scanned once with no Python boundary, no driver-side cover
planning and no prefilter — points outside every box's cells simply find
no match in the hash probe. The flagship pipeline (pipeline.py) is this
join over its encoded images: the H3/S2/tile columns ride along as point
payload, never as join keys.

Scale notes (the 100 TB story):
- The box side is polygons x a handful of cells — for realistic polygon
  counts it broadcasts, so the points table never shuffles at all.
- When the box side is too big to broadcast, hot cells (coastal/urban
  skew) are salted: points get cell#salt from a seeded hash of point_id,
  the box side explodes x salt_factor. AQE skewJoin stays on as backstop.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from stac_to_geocore_spark.session import local_df
from stac_to_geocore_spark.spatial.grid import (
    DRIVER_DIM_MAX,
    box_cells,
    grid_side_stats,
    grid_steps,
    point_cell,
)

# The points side of a point join is one row per point whatever the step,
# so cells finer than the overlap join's pay off: the dim-sized box side
# grows a little and fewer false candidates reach the refine. At 16 the
# step is half the mean box, so a mean box's candidate area is about
# (1 + 1/2)^2 = 2.25x its own.
POINT_CELLS_PER_BOX = 16.0


def pip_join(
    points: DataFrame,
    polygons: DataFrame,
    point_id: str = "image_id",
    lon: str = "lon",
    lat: str = "lat",
    broadcast_covers: bool | None = None,
    salt_factor: int = 0,
) -> DataFrame:
    """Assign each point to every containing polygon (closed bbox).

    points:   (point_id, lon, lat, ...)
    polygons: (poly_id, west, south, east, north)
    returns   (point_id, poly_id, then the other point columns in input
              order) — every point column rides along as payload, so no
              point column may be named like a box-side or join column
              (poly_id, west, south, east, north, gx, gy, salt)

    broadcast_covers: True forces a broadcast of the box cells, False
    leaves the join strategy to Catalyst/AQE, None broadcasts a dim-sized
    (<= DRIVER_DIM_MAX rows) unsalted box side — pinned, so Catalyst can
    never pick the points side as the build side (observed at small sf:
    harmless at 15k rows, catastrophic at 10^12).
    salt_factor > 0 salts the join key (use for skewed cells when the box
    side must shuffle).

    One narrow stats job over the boxes sizes the grid and doubles as the
    routing probe; a box with west > east, south > north or a null or
    non-finite bound raises ValueError there (grid_side_stats).
    """
    rest = [c for c in points.columns if c != point_id]
    n, mean_w, max_w, mean_h, max_h = grid_side_stats(polygons)
    if n == 0:  # no polygons -> empty result with the contract schema
        return local_df(points.sparkSession, [], StructType(
            [points.schema[point_id], polygons.schema["poly_id"]]
            + [points.schema[c] for c in rest]))
    dx, dy = grid_steps(mean_w, max_w, mean_h, max_h,
                        target_cells_per_box=POINT_CELLS_PER_BOX)
    gx, gy = point_cell(F.col(lon), F.col(lat), dx, dy)
    pts = points.select("*", gx.alias("gx"), gy.alias("gy"))
    boxes = box_cells(polygons.select("poly_id", "west", "south", "east", "north"), dx, dy)
    keys = ["gx", "gy"]
    if salt_factor > 0:
        pts = pts.withColumn("salt", F.pmod(F.xxhash64(F.col(point_id)), F.lit(salt_factor)))
        boxes = boxes.withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(salt_factor - 1))))
        keys.append("salt")
    if broadcast_covers is True or (
        broadcast_covers is None and n <= DRIVER_DIM_MAX and salt_factor == 0
    ):
        boxes = F.broadcast(boxes)
    return pts.join(boxes, keys).filter(
        (F.col(lon) >= F.col("west")) & (F.col(lon) <= F.col("east"))
        & (F.col(lat) >= F.col("south")) & (F.col(lat) <= F.col("north"))
    ).select(point_id, "poly_id", *rest)


def pip_ring_join(
    points: DataFrame,
    rings: DataFrame,
    point_id: str = "point_id",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Assign each point to every containing GENERAL polygon (ring), not just
    a bbox: grid cells of the ring's bbox as the filter, the exact even-odd
    ray cast as the refine.

    rings: (poly_id, ring_lon: array<double>, ring_lat: array<double>)
    returns (point_id, poly_id)

    Rings are a dim table by contract: they are collected once (bounded),
    their bboxes size the grid on the driver (no extra Spark job), and each
    ring's edge array is built ONCE there and broadcast once per polygon
    (joined by poly_id after the cell join), never replicated across cell
    rows. The ring cells and edges go back to Spark as driver-row
    LocalTableScans (session.local_df), so executing the join runs no
    Python. The refine is F.aggregate over that array in JVM column math,
    with numpy's operation order — (x2 - x1) * (Y - y1) / (y2 - y1) + x1 —
    so containment is bit-identical to a numpy ray cast; the division sits
    inside F.when, where the edge straddles Y and so is never horizontal
    (ANSI mode raises on x / 0.0)."""
    spark = points.sparkSession
    # the bounded probe makes a violated dim contract an explicit error
    # instead of an unbounded driver collect
    rings_pdf = rings.limit(DRIVER_DIM_MAX + 1).toPandas()
    if len(rings_pdf) > DRIVER_DIM_MAX:
        raise ValueError(
            f"pip_ring_join requires a dim-sized rings table (<= {DRIVER_DIM_MAX} "
            f"rows — ring arrays are broadcast); pre-filter or tile the rings"
        )
    if len(rings_pdf) == 0:
        return points.select(point_id).withColumn("poly_id", F.lit(None).cast("string")).filter(F.lit(False))
    # the edge table is keyed by poly_id: duplicate poly_ids with different
    # geometries (multi-ring polygons) would ray-cast every candidate
    # against every ring of that id. One ring per poly_id is the contract;
    # enforce it here rather than corrupt containment downstream.
    if rings_pdf["poly_id"].duplicated().any():
        dups = sorted(rings_pdf.loc[rings_pdf["poly_id"].duplicated(), "poly_id"].unique()[:5])
        raise ValueError(
            f"pip_ring_join requires one ring per poly_id (refine joins edges "
            f"by poly_id); duplicates: {dups} — split multi-ring polygons into "
            f"distinct poly_ids and union the assignments"
        )
    # a null or non-finite vertex has no place on the plane: the bbox's
    # min/max would skip or keep a NaN depending on where it sits in the ring
    bad = np.array([
        not (np.isfinite(np.asarray(x, np.float64)).all() and np.isfinite(np.asarray(y, np.float64)).all())
        for x, y in zip(rings_pdf["ring_lon"], rings_pdf["ring_lat"])
    ])
    if bad.any():
        ids = sorted(rings_pdf.loc[bad, "poly_id"].unique()[:5])
        raise ValueError(
            f"pip_ring_join requires finite ring vertices; rings with a null, "
            f"NaN or +-inf vertex: {ids}"
        )
    xs = [list(map(float, v)) for v in rings_pdf["ring_lon"]]
    ys = [list(map(float, v)) for v in rings_pdf["ring_lat"]]
    bbox = [(min(x), min(y), max(x), max(y)) for x, y in zip(xs, ys)]
    widths = [b[2] - b[0] for b in bbox]
    heights = [b[3] - b[1] for b in bbox]
    dx, dy = grid_steps(sum(widths) / len(bbox), max(widths),
                        sum(heights) / len(bbox), max(heights),
                        target_cells_per_box=POINT_CELLS_PER_BOX)
    pid = rings_pdf["poly_id"].tolist()
    cells = F.broadcast(box_cells(
        local_df(
            spark, [(p,) + b for p, b in zip(pid, bbox)],
            "poly_id string, west double, south double, east double, north double",
        ), dx, dy,
    ).select("poly_id", "gx", "gy"))
    edges = F.broadcast(local_df(
        spark,
        [(p, [(x[i], y[i], x[(i + 1) % len(x)], y[(i + 1) % len(x)]) for i in range(len(x))])
         for p, x, y in zip(pid, xs, ys)],
        "poly_id string, edges array<struct<x1:double,y1:double,x2:double,y2:double>>",
    ))

    X, Y = F.col(lon), F.col(lat)

    def crossing(inside, e):
        straddles = (e["y1"] > Y) != (e["y2"] > Y)
        return inside != F.when(
            straddles,
            X < (e["x2"] - e["x1"]) * (Y - e["y1"]) / (e["y2"] - e["y1"]) + e["x1"],
        ).otherwise(F.lit(False))

    gx, gy = point_cell(X, Y, dx, dy)
    return (
        points.select(point_id, lon, lat, gx.alias("gx"), gy.alias("gy"))
        .join(cells, ["gx", "gy"])
        .join(edges, "poly_id")  # edge arrays: once per polygon
        .filter(F.aggregate("edges", F.lit(False), crossing))
        .select(point_id, "poly_id")
    )
