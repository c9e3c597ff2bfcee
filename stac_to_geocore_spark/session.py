"""SparkSession factory with the physical configs that matter (SURVEY.md §4.4).

The reference (stac-to-geocore) is a single-threaded Lambda; this engine is
designed for a 1000-executor cluster but tested on local[N]. All configs
below are safe on both: AQE re-plans at runtime, Arrow feeds the vectorized
UDFs, and shuffle partition count scales with parallelism.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "stac-to-geocore-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the engine.

    - AQE + skew-join: runtime re-planning; the backstop for hot coastal /
      urban cells (explicit salting in spatial/pip.py is the primary defense).
    - Arrow enabled, small record batches: image rows carry ~100KB binary
      payloads, so Arrow batches are capped to keep executor memory bounded.
    - shuffle partitions default to 2x cores locally; on a real cluster set
      it (or rely on AQE coalescing) relative to executor count.
    """
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    cores = _core_count(master)
    if shuffle_partitions is None:
        shuffle_partitions = max(8, 2 * cores)

    # One BLAS thread per Python worker: Spark already parallelizes across
    # workers, and multi-threaded OpenBLAS inside 32 workers oversubscribes
    # the box catastrophically (measured 4x slowdown at local[32]).
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "VECLIB_MAXIMUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _core_count(master: str) -> int:
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count() or 8
        try:
            return int(inner)
        except ValueError:
            return 8
    return os.cpu_count() or 8

