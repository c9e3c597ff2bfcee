"""SparkSession factory with the physical configs that matter (SURVEY.md §4.4).

The reference (stac-to-geocore) is a single-threaded Lambda; this engine is
designed for a 1000-executor cluster but tested on local[N]. All configs
below are safe on both: AQE re-plans at runtime, Arrow feeds the vectorized
UDFs, and shuffle partition count scales with parallelism.
"""

from __future__ import annotations

import os
from typing import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType


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


def local_df(spark: SparkSession, rows: Sequence[tuple], schema: str | StructType) -> DataFrame:
    """Driver-side rows as a DataFrame that runs no Python when executed.

    `createDataFrame(<list>)` plans `Scan ExistingRDD` over a pickled RDD:
    every execution runs an identity Python map on defaultParallelism
    partitions (4 Python tasks at local[4], 32 at local[32]). The same rows
    handed over as a `pyarrow.Table` typed by `schema` plan as a
    `LocalTableScan`, JVM rows only, whether or not the Arrow conf is on.
    Schema, nullability and values equal `createDataFrame(rows, schema)`'s.
    """
    struct = DataType.fromDDL(schema) if isinstance(schema, str) else schema
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table, struct)
