"""spark-submit entry point (BASELINE.json north_rule: "runs via
spark-submit --py-files on clusters of N and 4N executors").

Usage:
    ./submit.sh [n_images] [n_polygons] [output_path]
or directly (build the zip first with scripts/build_dist.sh):
    spark-submit --py-files dist/stac_to_geocore_spark.zip main.py 100000 32 /tmp/assignments

Runs the flagship pipeline (H3/S2 encode + PIP join + tile assignment) and
materializes assignments with per-partition lineage. On a real cluster,
spark-submit's --master/--num-executors govern N vs 4N; everything in the
engine is parallelism-agnostic (counter-based generation, broadcast covers,
no driver-side data paths).
"""

from __future__ import annotations

import json
import sys
import time


def main() -> None:
    n_images = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    n_polys = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    out = sys.argv[3] if len(sys.argv) > 3 else "/tmp/stac_geocore_assignments"

    from pyspark.sql import SparkSession

    # spark-submit provides the session config (master, executors, --conf);
    # only engine-required settings are applied here
    spark = (
        SparkSession.builder.appName("stac-geocore-flagship")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from stac_to_geocore_spark.fixtures import images_df, polygons_df
    from stac_to_geocore_spark.pipeline import materialize_assignments
    from stac_to_geocore_spark.tables.lineage import read_manifest

    t0 = time.monotonic()
    rows = materialize_assignments(
        images_df(spark, n_images, bytes_mode="none"),
        polygons_df(spark, n_polys),
        out,
        run_id=f"submit-{n_images}",
    )
    dt = time.monotonic() - t0
    manifest = read_manifest(out)
    print(json.dumps({
        "n_images": n_images,
        "partitions_committed": len(rows),
        "total_partitions": len(manifest),
        "rows_written": sum(m["row_count"] for m in rows),
        "sec": round(dt, 2),
        "images_per_sec": round(n_images / dt, 1),
        "output": out,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
