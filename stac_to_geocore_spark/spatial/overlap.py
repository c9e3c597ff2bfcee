"""Region-region spatial join: bbox overlap via shared grid cells.

pip.py joins points to regions; this joins REGIONS to REGIONS (collection
footprints vs AOIs, tiles vs collections, ...). Filter-refine shape:

  box_cells(A) equi-join box_cells(B) on (gx, gy)  ->  candidate pairs
  refine: exact bbox-intersection predicate (pure JVM column math)
  dedup:  anchor-cell rule (pure JVM) — each pair survives exactly once

Candidates come from the one grid generator every spatial join shares
(spatial/grid.py): exact floor-division cell ranges, exploded in JVM.
Completeness: intersecting boxes share the reference corner
p = (max(wa, wb), max(sa, sb)); p's cell is in both ranges, so the
equi-join cannot miss a pair.

The anchor-cell rule makes the join output DISTINCT BY CONSTRUCTION: a
candidate row is kept only when its (gx, gy) IS the reference corner's
cell — one cell per pair, so no distinct()/shuffle-dedup of the candidate
set is ever needed. (The hex-cover design duplicated each pair once per
shared cover cell — measured 8.8x at sf1.0 — and paid a full exchange +
hash aggregate to dedup; that was >half the query's wall time.)

Scale shape: ONE join plan for every input. Each side shuffles (or
broadcasts) only (id, gx, gy, bbox) rows; (gx, gy) is the natural
bucketing column pair, so two pre-bucketed region tables co-locate and the
join is shuffle-free. Each distinct input is measured with ONE narrow
pure-JVM stats aggregation (grid_side_stats) that doubles as the routing
probe: a dim-sized side broadcasts its exploded cells; big sides equi-join
cell-bucketed with a pinned sort-merge, and a self-join's two sides are one
cell plan whose exchange Catalyst reuses — nothing but scalars is ever
collected to the driver. Cell skew on the sort-merge is left to AQE's
skew-join split (session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stac_to_geocore_spark.spatial.grid import (
    DRIVER_DIM_MAX,
    MAX_CELLS,
    box_cells,
    grid_side_stats,
    grid_steps,
)

# Both sides of a region join explode into cells, so coarse cells (the mean
# box covers about half a cell) keep the candidate rows down. Measured at
# sf1.0 on the orders-bbox self-join: 0.25-1.0 are flat within noise, 2.0
# costs +25%, 4.0 +60%, 16.0 3x.
CELLS_PER_BOX = 0.5


def bbox_overlap_join(polys_a: DataFrame, polys_b: DataFrame) -> DataFrame:
    """All (id_a, id_b) pairs whose bboxes intersect (closed-edge semantics).

    Both inputs: (poly_id, west, south, east, north) with west <= east and
    south <= north; any other box raises ValueError (grid_side_stats).
    poly_id is expected unique per side: the anchor-cell rule yields
    exactly one output row per input ROW pair, so duplicated id rows
    produce duplicated pairs (bag semantics; dedup inputs first if ids
    repeat). Cell size (grid_steps over CELLS_PER_BOX and MAX_CELLS)
    is a pure performance knob: the output is invariant to it (tested).

    One aliased equi-join of the two sides' grid cells on (gx, gy), then
    the exact bbox refine and the anchor-cell rule (see the module
    docstring). When either side has at most DRIVER_DIM_MAX rows the
    smaller side broadcasts; otherwise sort-merge is pinned on the cell
    keys — without the hint, AQE's runtime stats can flip a
    multi-million-row cell side to a broadcast build and OOM the driver.
    Pass the same DataFrame as both sides for a self-join: both join
    inputs are then one cell plan, measured once, and Catalyst's
    ReuseExchange computes and shuffles the cells once, not twice.
    """
    self_join = polys_b is polys_a
    n_a, *ext_a = grid_side_stats(polys_a)
    n_b, *ext_b = (n_a, *ext_a) if self_join else grid_side_stats(polys_b)
    # one grid for both sides, sized by the larger mean and max extents
    dx, dy = grid_steps(*map(max, ext_a, ext_b), CELLS_PER_BOX, MAX_CELLS)

    def cells(df: DataFrame) -> DataFrame:
        return box_cells(df.select("poly_id", "west", "south", "east", "north"), dx, dy)

    cells_a = cells(polys_a)
    lhs = cells_a.alias("A")
    rhs = (cells_a if self_join else cells(polys_b)).alias("B")
    if min(n_a, n_b) > DRIVER_DIM_MAX:
        lhs = lhs.hint("merge")
    elif n_a < n_b:
        lhs = lhs.hint("broadcast")
    else:
        rhs = rhs.hint("broadcast")

    wa, sa, ea, na, gxa, gya = (F.col(f"A.{c}") for c in ("west", "south", "east", "north", "gx", "gy"))
    wb, sb, eb, nb, gxb, gyb = (F.col(f"B.{c}") for c in ("west", "south", "east", "north", "gx", "gy"))
    return (
        lhs.join(rhs, (gxa == gxb) & (gya == gyb))
        .filter(
            (wa <= eb) & (ea >= wb) & (sa <= nb) & (na >= sb)
            # exactly-once: keep the candidate only at the reference corner's cell
            & (gxa == F.floor(F.greatest(wa, wb) / F.lit(dx)))
            & (gya == F.floor(F.greatest(sa, sb) / F.lit(dy)))
        )
        .select(F.col("A.poly_id").alias("id_a"), F.col("B.poly_id").alias("id_b"))
    )
