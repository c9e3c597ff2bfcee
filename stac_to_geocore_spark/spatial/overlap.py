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

Scale shape: each side shuffles (or broadcasts) only (id, gx, gy, bbox)
rows; (gx, gy) is the natural bucketing column pair, so two pre-bucketed
region tables co-locate and the join is shuffle-free. Each side is
measured with ONE narrow pure-JVM stats aggregation (grid_side_stats —
five scalars) that doubles as the routing probe: a dim-sized side
broadcasts its exploded cells; big sides equi-join cell-bucketed with a
pinned sort-merge — nothing but scalars is ever collected to the driver.
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


def bbox_overlap_join(
    polys_a: DataFrame,
    polys_b: DataFrame,
    max_cells: int = MAX_CELLS,
    driver_plan_max: int = DRIVER_DIM_MAX,
    target_cells_per_box: float = 0.5,
    salt_hot_cells: bool = True,
    salt_sample_fraction: float = 0.05,
    salt_hot_multiplier: float = 8.0,
) -> DataFrame:
    """All (id_a, id_b) pairs whose bboxes intersect (closed-edge semantics).

    Both inputs: (poly_id, west, south, east, north). poly_id is expected
    unique per side: the anchor-cell rule yields exactly one output row
    per input ROW pair, so duplicated id rows produce duplicated pairs
    (bag semantics — the pre-grid implementation's distinct() also
    deduplicated dirty inputs as a side effect; dedup inputs first if ids
    repeat). Cell size is governed by target_cells_per_box / max_cells
    (spatial/grid.grid_steps), and the output is provably invariant to
    both (tested).

    Sides at or below driver_plan_max rows broadcast their exploded grid
    cells; bigger sides equi-join on (gx, gy) — the natural bucketing
    columns, so two pre-bucketed region tables co-locate and the join is
    shuffle-free.

    The whole plan is JVM column math (see the module docstring): grid
    cells via floor/sequence/explode, the exact bbox refine, and the
    anchor-cell rule that keeps each intersecting pair exactly once
    (its (gx, gy) equals the reference corner's cell, which provably lies
    in both sides' ranges) — so there is NO Python boundary, NO distinct()
    and NO post-join dedup exchange anywhere in this operator.

    Both-big skew (salt_hot_cells): a hot cell — a dense urban/coastal cell
    with many cover rows on BOTH sides — makes the cell equi-join quadratic
    in that one key on one reducer. A sampled cell histogram (now over BOTH
    sides of a two-table join — a cell hot only on the dense side still
    salts) finds cells whose count exceeds
    salt_hot_multiplier x the mean; only those get salted (side A hashed by
    poly_id, side B's hot rows replicated per salt), splitting each hot
    cell across its salt-factor reducers — replication cost proportional to
    the skew, not the table (spatial/skew.py, the machinery pip_salted
    uses). Because cell generation is now cheap column math, the histogram
    pass costs a sampled scan plus one tiny aggregation, and the salted
    SELF-join no longer duplicates an expensive cover computation (the
    round-5 ReusedExchange-loss concern) — there is nothing expensive left
    to duplicate. AQE's skew-join split remains the backstop for skew the
    sample misses. When the histogram finds NO hot cells a self-join builds
    both sides from ONE cell plan whose exchange Catalyst reuses
    (ReusedExchange): cells are computed and shuffled once, not twice.
    """
    self_join = polys_a is polys_b
    # ONE narrow stats agg per side (a self-join measures its one input
    # once); the agg doubles as the routing probe — no bounded toPandas()
    # probe, no separate stats job, nothing but scalars reaches the driver
    n_a, mean_w, max_w, mean_h, max_h = grid_side_stats(polys_a)
    n_b = n_a
    if not self_join:
        n_b, mw, xw, mh, xh = grid_side_stats(polys_b)
        mean_w, max_w = max(mean_w, mw), max(max_w, xw)
        mean_h, max_h = max(mean_h, mh), max(max_h, xh)
    a_small = n_a <= driver_plan_max
    b_small = n_b <= driver_plan_max
    dx, dy = grid_steps(mean_w, max_w, mean_h, max_h, max_cells, target_cells_per_box)

    def cells(df: DataFrame) -> DataFrame:
        return box_cells(df.select("poly_id", "west", "south", "east", "north"), dx, dy)

    def tagged(cov: DataFrame, tag: str) -> DataFrame:
        return cov.select(
            F.col("poly_id").alias(f"id_{tag}"),
            F.col("west").alias(f"w{tag}"), F.col("south").alias(f"s{tag}"),
            F.col("east").alias(f"e{tag}"), F.col("north").alias(f"n{tag}"),
            F.col("gx").alias(f"gx{tag}"), F.col("gy").alias(f"gy{tag}"),
        )

    refine = (
        (F.col("wa") <= F.col("eb")) & (F.col("ea") >= F.col("wb"))
        & (F.col("sa") <= F.col("nb")) & (F.col("na") >= F.col("sb"))
    )
    # exactly-once: keep the candidate only at the reference corner's cell
    anchor = (
        (F.col("gxa") == F.floor(F.greatest(F.col("wa"), F.col("wb")) / F.lit(dx)))
        & (F.col("gya") == F.floor(F.greatest(F.col("sa"), F.col("sb")) / F.lit(dy)))
    )
    eq_keys = (F.col("gxa") == F.col("gxb")) & (F.col("gya") == F.col("gyb"))

    if not (a_small or b_small):
        # BOTH sides big. Sort-merge is pinned on the cell keys in every
        # branch below: without the hint, AQE's runtime stats can flip a
        # multi-million-row cell side to a broadcast build and OOM the
        # driver — and at 100 TB a broadcast of either side is never the
        # right plan; the shuffle-on-cell co-location is.
        salts: dict[int, int] = {}
        if salt_hot_cells:
            from stac_to_geocore_spark.spatial.skew import plan_salts

            # histogram over the grid cells of a polygon SAMPLE — cell
            # generation is column math, so this costs a sampled scan plus
            # one tiny agg; hotness = count/mean is invariant to the rate.
            # A two-table join samples BOTH sides at the FULL fraction
            # (cells are cheap enough that two sampled scans are noise),
            # closing the round-5 B-side blind spot: a cell hot only on
            # the dense side now salts too. Half-rate per-side sampling
            # was tried first and measured UNDER-detecting: it halves a
            # one-sided stack's count while the union mean stays ~1, so a
            # borderline city fell below the 8x threshold (regression
            # test: test_bbox_overlap_salts_hot_cells_on_side_b_only).
            if self_join:
                hist_src = cells(polys_a.sample(fraction=salt_sample_fraction, seed=42))
            else:
                hist_src = cells(
                    polys_a.sample(fraction=salt_sample_fraction, seed=42)
                ).unionByName(
                    cells(polys_b.sample(fraction=salt_sample_fraction, seed=43)))
            salts = plan_salts(
                hist_src.select(F.xxhash64("gx", "gy").alias("cell")),
                sample_fraction=1.0, hot_multiplier=salt_hot_multiplier)
        if salts:
            # the one salted-equi-join implementation (spatial/skew.py):
            # side A plays the hashed "points" role, side B replicates.
            # The salt map is keyed by xxhash64(gx, gy) — a hash collision
            # only salts an extra cold cell (output unaffected); exactness
            # comes from the explicit (gxa==gxb, gya==gyb) filter below,
            # never from the hash.
            from stac_to_geocore_spark.spatial.skew import salted_cell_join

            cov_a = tagged(cells(polys_a), "a").withColumn(
                "cell", F.xxhash64("gxa", "gya"))
            cov_b = tagged(cells(polys_a if self_join else polys_b), "b").withColumn(
                "cell", F.xxhash64("gxb", "gyb"))
            joined = salted_cell_join(
                cov_a.hint("merge"), cov_b, salts, point_id="id_a",
            ).filter(eq_keys)
        elif self_join:
            # aliased self-join over the ONE cell plan: both SMJ inputs
            # exchange the identical subtree, so Catalyst's ReuseExchange
            # computes + shuffles the cells once, not twice
            cov = cells(polys_a)
            lhs, rhs = cov.alias("A"), cov.alias("B")
            return (
                lhs.hint("merge")
                .join(rhs, (F.col("A.gx") == F.col("B.gx"))
                      & (F.col("A.gy") == F.col("B.gy")))
                .filter(
                    (F.col("A.west") <= F.col("B.east"))
                    & (F.col("A.east") >= F.col("B.west"))
                    & (F.col("A.south") <= F.col("B.north"))
                    & (F.col("A.north") >= F.col("B.south"))
                    & (F.col("A.gx") == F.floor(
                        F.greatest(F.col("A.west"), F.col("B.west")) / F.lit(dx)))
                    & (F.col("A.gy") == F.floor(
                        F.greatest(F.col("A.south"), F.col("B.south")) / F.lit(dy)))
                )
                .select(F.col("A.poly_id").alias("id_a"),
                        F.col("B.poly_id").alias("id_b"))
            )
        else:
            joined = tagged(cells(polys_a), "a").hint("merge").join(
                tagged(cells(polys_b), "b"), eq_keys)
    else:
        cov_a = tagged(cells(polys_a), "a")
        cov_b = tagged(cells(polys_b), "b")
        if b_small:
            cov_b = F.broadcast(cov_b)
        else:
            cov_a = F.broadcast(cov_a)
        joined = cov_a.join(cov_b, eq_keys)

    return joined.filter(refine & anchor).select("id_a", "id_b")

