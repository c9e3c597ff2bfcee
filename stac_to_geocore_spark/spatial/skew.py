"""Skew planning: measure a sampled cell histogram, find the hot cells.

plan_salts is the histogram half of targeted salting (SURVEY.md §4.3): a
sampled groupBy(cell).count() finds the cells whose count is far above the
mean. No join salts by it any more — bbox_overlap_join runs one plan and
leaves cell skew to AQE's skew-join split, and pip_join's salt_factor is a
uniform salt — so its one caller is the benchmark's traced probe
(perfbench/workloads.py), which times it as a per-layer figure.
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

