"""The 100TB storage story, evidenced: cell-targeted reads skip the data of
other cells instead of scanning it. IVF bucket keys are partition columns,
so a probe's filter prunes files at plan time. The lineage table has no
partition columns: it holds one directory per sorted-key commit batch, and
a cell filter pushed to Parquet skips the files of every batch whose key
range misses the cell. The unit skipped is the batch."""

from pyspark.sql import functions as F

from stac_to_geocore_spark.fixtures import images_df, polygons_df
from stac_to_geocore_spark.pipeline import materialize_assignments
from stac_to_geocore_spark.tables.lineage import LineageWriter


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _scanned_rows(df) -> tuple[int, int]:
    """(rows df returns, rows its Parquet scan read)."""
    qe = df._jdf.queryExecution()
    n = len(df.collect())
    return n, qe.executedPlan().collectLeaves().head().metrics().apply("numOutputRows").value()


def _rows_in_files_holding(table, cell: int) -> int:
    """Rows of the files whose cell_p5 [min, max] holds `cell`: all that a
    scan skipping by Parquet min/max reads (each file here is one row group)."""
    per_file = table.groupBy(F.input_file_name()).agg(
        F.min("cell_p5").alias("lo"), F.max("cell_p5").alias("hi"), F.count(F.lit(1)).alias("n")
    ).collect()
    return sum(r["n"] for r in per_file if r["lo"] <= cell <= r["hi"])


def test_lineage_table_prunes_by_cell_partition(spark, tmp_path):
    images, polys = images_df(spark, 3000, bytes_mode="none"), polygons_df(spark, 16)
    path = str(tmp_path / "assign")
    manifest = materialize_assignments(images, polys, path)
    assert len(manifest) > 3  # several cell_p5 partitions committed

    table = LineageWriter(path).read(spark)
    cell, rows = int(manifest[0]["partition"]), manifest[0]["row_count"]
    pruned = table.filter(F.col("cell_p5") == cell)
    assert "cell_p5" in _plan(pruned).split("PushedFilters", 1)[1][:200]
    # one batch (the default): its files each span most cells, so the scan
    # skips only the files whose key range misses this one
    assert _scanned_rows(pruned) == (rows, _rows_in_files_holding(table, cell))

    # in batches, the scan reads only the batch whose key range holds the
    # cell: the files of every other batch are skipped by their min/max
    path = str(tmp_path / "batched")
    manifest = materialize_assignments(images, polys, path, batch_size=32)
    table = LineageWriter(path).read(spark)
    first = manifest[0]
    pruned = table.filter(F.col("cell_p5") == int(first["partition"]))
    batch_rows = sum(m["row_count"] for m in manifest if m["dir"] == first["dir"])
    assert _scanned_rows(pruned) == (first["row_count"], batch_rows)
    assert batch_rows < table.count()


def test_ivf_bucketed_embeddings_prune(spark, tmp_path):
    """Embeddings written partitioned by IVF cell: a probe query's cell
    filter becomes a partition filter — the ANN scale path reads only the
    probed cells' files."""
    import numpy as np

    from stac_to_geocore_spark.ann import _kmeans_np, ivf_assign_udf

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    sample = np.stack([
        np.asarray(r[0], dtype=np.float64)
        for r in emb.select("embedding").sample(fraction=1.0, seed=1).limit(256).collect()
    ])
    centroids = _kmeans_np(sample, 8, seed=1)
    path = str(tmp_path / "emb_ivf")
    (
        emb.withColumn("ivf_cell", ivf_assign_udf(centroids, 1)(F.col("embedding"))[0])
        .write.partitionBy("ivf_cell").parquet(path)
    )
    table = spark.read.parquet(path)
    probed = table.filter(F.col("ivf_cell").isin([0, 3]))
    plan = _plan(probed)
    assert "PartitionFilters" in plan and "ivf_cell" in plan.split("PartitionFilters", 1)[1][:200]
    assert 0 < probed.count() < table.count()
