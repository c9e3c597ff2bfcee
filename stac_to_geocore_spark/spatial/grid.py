"""Uniform lon/lat grid: the one candidate generator of every spatial join.

pip_join (and the flagship pipeline through it), pip_ring_join, knn_join
and bbox_overlap_join all find their candidate pairs the same way. A box
covers EXACTLY the grid cells

  [floor(west/dx) .. floor(east/dx)] x [floor(south/dy) .. floor(north/dy)]

generated with sequence()+explode in whole-stage-codegen JVM, and a point
(a degenerate box) has the single cell (floor(lon/dx), floor(lat/dy)). A
point inside a closed box lies in one of the box's cells — floor and IEEE
division are monotone, so the point's cell index falls in the box's range —
and two intersecting boxes share the cell of their reference corner
(max(west), max(south)). An equi-join on (gx, gy) therefore never misses a
pair; an exact refine in column math drops the false candidates. No Python
boundary, no driver-side cover planning, no padding ring.

Cell size is a pure performance knob (outputs are exact at ANY step, which
the tests check): one narrow pure-JVM aggregation measures the boxes (count
plus mean/max extents) and rejects the ones no cell range can cover, and
grid_steps sizes the cells from those. H3/S2 cells are not join keys
anywhere; they are output payload (the flagship's h3/cell_p5/s2 columns,
sql_functions, the cover UDTF).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# explosion guard: the LARGEST box never covers more than ~MAX_CELLS cells
MAX_CELLS = 2048

# The join-routing contract: a box or ring table at or below this row count
# is dim-sized, safe to broadcast or collect to the driver (pip_join,
# pip_ring_join and bbox_overlap_join all route on it — tune it in ONE place)
DRIVER_DIM_MAX = 10_000


def grid_side_stats(df: DataFrame) -> tuple[int, float, float, float, float]:
    """(row_count, mean_w, max_w, mean_h, max_h) of a box table
    (west, south, east, north) in ONE narrow pure-JVM aggregation — the
    count doubles as the broadcast-routing probe, so nothing but six
    scalars reaches the driver.

    The same aggregation counts the boxes the grid cannot cover: west >
    east, south > north, or a null, NaN or infinite bound. Any such row
    raises ValueError, where it would otherwise drop out of a join
    silently or blow up the cell explosion."""
    bad = (F.col("west") > F.col("east")) | (F.col("south") > F.col("north"))
    for c in ("west", "south", "east", "north"):
        bad = bad | F.col(c).isNull() | F.isnan(c) | (F.abs(c) == float("inf"))
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.col("east") - F.col("west")).alias("mw"),
        F.max(F.col("east") - F.col("west")).alias("xw"),
        F.avg(F.col("north") - F.col("south")).alias("mh"),
        F.max(F.col("north") - F.col("south")).alias("xh"),
        F.count_if(bad).alias("bad"),
    ).collect()[0]
    if row["bad"]:
        raise ValueError(
            f"{row['bad']} box row(s) have west > east, south > north, or a "
            f"null or non-finite bound; a dateline-crossing box (west > east) "
            f"must be split at 180 degrees into two boxes with the same id for now"
        )
    return (int(row["n"]),) + tuple(
        float(v) if v is not None else 0.0
        for v in (row["mw"], row["xw"], row["mh"], row["xh"]))


def grid_steps(mean_w: float, max_w: float, mean_h: float, max_h: float,
               target_cells_per_box: float,
               max_cells: int = MAX_CELLS) -> tuple[float, float]:
    """Grid steps (dx, dy) in degrees. Sized so the MEAN box covers about
    target_cells_per_box cells (cover rows = shuffle/broadcast volume; each
    join picks its own target), floored so the LARGEST box never explodes
    past ~max_cells cells."""
    k = 2.0 / math.sqrt(max(0.01, target_cells_per_box))
    lim = max(2.0, math.sqrt(max(1, max_cells)) - 1.0)
    dx = max(k * mean_w, max_w / lim, 1e-12)
    dy = max(k * mean_h, max_h / lim, 1e-12)
    return dx, dy


def box_cells(df: DataFrame, dx: float, dy: float) -> DataFrame:
    """df (any columns incl. west, south, east, north) with one row per
    covered grid cell, appended as (gx, gy) — the exact floor-division
    ranges, exploded in JVM."""
    return df.withColumn(
        "gx", F.explode(F.sequence(F.floor(F.col("west") / F.lit(dx)),
                                   F.floor(F.col("east") / F.lit(dx))))
    ).withColumn(
        "gy", F.explode(F.sequence(F.floor(F.col("south") / F.lit(dy)),
                                   F.floor(F.col("north") / F.lit(dy))))
    )


def point_cell(lon: Column, lat: Column, dx: float, dy: float) -> tuple[Column, Column]:
    """The single grid cell (gx, gy) of a point."""
    return F.floor(lon / F.lit(dx)), F.floor(lat / F.lit(dy))
