"""Skew planning: measure the cell histogram, salt only the hot cells.

BASELINE.json north_rule: "salted keys for skewed coastal/urban cells". The
uniform salt of pip_join (which the flagship runs) replicates the whole box
side; this module does the targeted version from SURVEY.md §4.3: a sampled
groupBy(cell).count() finds hot cells, only those get per-row salts, and
only their cell rows replicate — the replication cost is proportional to
the skew, not the table.

Deterministic: the salt is a hash of the point id (not rand()), so retries
and resume produce identical assignments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def plan_salts(
    points_with_cell: DataFrame,
    cell_col: str = "cell",
    sample_fraction: float = 0.05,
    hot_multiplier: float = 8.0,
    max_salt: int = 32,
    max_hot_cells: int = 1024,
) -> dict[int, int]:
    """Sampled cell histogram -> {hot_cell: salt_factor}.

    A cell is hot when its (estimated) count exceeds hot_multiplier x the
    mean cell count; its salt factor scales with the overshoot, capped.

    ONE job with BOUNDED memory at every stage, nothing histogram-sized
    ever reaching the driver: the per-cell counts aggregate a second time
    over a hash-bucketed key (4 x max_hot_cells buckets), each bucket
    keeping its (row-count, count-sum, max_by hottest cell) — every
    aggregation hash map is capped at the bucket count, unlike a
    collect_list of filtered candidates, whose buffer on a DENSE near-flat
    histogram (every cell above an absolute pre-filter) would materialize
    the whole histogram in the final reduce task. The driver sums the
    per-bucket (n, total) back into the exact global (n_cells, total), so
    the exact hot test (count > hot_multiplier x mean) runs driver-side on
    <= 4 x max_hot_cells collected rows. Bucket collisions can hide a hot
    cell behind a hotter one — salting is best-effort by design (the
    driver gets the hottest cell of every bucket, so at most 3/4 of the
    wanted top cells can be shadowed even adversarially); AQE skew-split
    backstops whatever the sample or the buckets miss. max_by orders by
    (count, cell) so ties break deterministically. An empty input yields
    zero bucket rows and the result is {}.
    """
    sample = points_with_cell.sample(fraction=sample_fraction, seed=42) if sample_fraction < 1.0 else points_with_cell
    n_buckets = 4 * max_hot_cells
    top = F.max_by(
        F.struct(F.col("count").alias("count"), F.col(cell_col).alias("cell")),
        F.struct(F.col("count"), F.col(cell_col)),
    ).alias("top")
    rows = (
        sample.groupBy(cell_col).agg(F.count(F.lit(1)).alias("count"))
        .groupBy(F.pmod(F.xxhash64(cell_col), F.lit(n_buckets)).alias("_bkt"))
        .agg(F.sum("count").alias("total"), F.count(F.lit(1)).alias("n_cells"), top)
        .collect()
    )
    n_cells = sum(r["n_cells"] for r in rows)
    if not n_cells:
        return {}
    mean = sum(r["total"] for r in rows) / n_cells
    cand = sorted(
        (r["top"] for r in rows),
        key=lambda t: (-t["count"], t["cell"]),
    )[:max_hot_cells]
    out = {}
    for r in cand:
        if r["count"] > hot_multiplier * mean:
            out[int(r["cell"])] = int(min(max_salt, max(2, round(r["count"] / mean / hot_multiplier * 4))))
    return out


def salted_cell_join(
    points: DataFrame,
    covers: DataFrame,
    salts: dict[int, int],
    cell_col: str = "cell",
    point_id: str = "image_id",
) -> DataFrame:
    """Equi-join points⋈covers on cell with per-hot-cell salting.

    points gain salt = hash(point_id) % salt_factor(cell) (0 for cold cells);
    covers explode to one row per salt value for hot cells only. The join key
    becomes (cell, salt) — hot cells split across salt_factor reducers, cold
    cells pay nothing.
    """
    if not salts:
        return points.join(covers, cell_col)
    salt_map = F.create_map(*[F.lit(x) for kv in salts.items() for x in kv])
    factor_p = F.coalesce(salt_map[F.col(cell_col)], F.lit(1))
    pts = points.withColumn("salt", F.pmod(F.xxhash64(point_id), factor_p).cast("int"))
    cov = covers.withColumn(
        "salt",
        F.explode(F.sequence(F.lit(0), F.coalesce(salt_map[F.col(cell_col)], F.lit(1)) - 1)),
    )
    return pts.join(cov, [cell_col, "salt"])
