"""Per-partition lineage checkpointing with kill/resume (Iceberg-style).

Generalizes the reference's run manifest: stac-to-geocore appends every
written key to lastRun.txt (app.py:69,116,135,162,164) and deletes the
previous run's keys before writing (s3_operations.py:31-43) — a crude,
non-atomic lineage mechanism. Here each *partition* (a cell-prefix bucket)
is listed with (cell_range, row_count, checksum, elapsed, rows/sec), so a
killed job resumes by skipping committed partitions — BASELINE.json
north_rule: "resumable from checkpoint with per-partition lineage + metrics".

The input is persisted as it comes. One stats aggregation over the cache
lists and measures every partition. The pending partitions, sorted by key,
commit in batches of `batch_size`; the batch is the atomic unit. Each batch
is one write of filter(key in batch).coalesce(n_b) to a new data dir and
one snapshot commit whose metadata carries the batch's per-partition rows:
the table is a SnapshotTable (tables/snapshots.py), whose CAS commit,
time travel and orphan vacuum() are the whole protocol. A data dir that no
snapshot names holds no committed rows: `read` never sees it and the next
`write` vacuums it and rewrites the batch.

n_b = ceil(P * batch rows / pending rows), P the cache's partition count:
each write task writes about a cache partition's rows, and a batch of at
most 1/P of the rows is one file. The filter runs inside those n_b tasks,
so each scans P / n_b cache partitions: every batch scans the whole cache,
as a filter over it must, on fewer tasks than P when the batch is small.
Files are the cost that counts on the local FS: without the native Hadoop
library every file or directory it creates forks `jspawnhelper` + `chmod`.
At the north_star checkpoint (17,802 rows in 80 partitions, local[4], 4
batches) that is 6 files, against 80 with one directory per partition.

The table has no partition columns, so a cell-targeted read prunes nothing
at plan time: its filter is pushed to Parquet, which skips the files whose
key min/max misses the cell. A batch holds a contiguous key range, so the
read skips every other batch; the batch's own files each hold rows from
across its range and are read. Written in one batch, a table is read about
whole by any cell inside its key range.

The checksum is an order-independent XOR of xxhash64 over the row's columns,
computed by the JVM (F.xxhash64 + bit_xor) — no Python in the data path.

Completion record: a `complete` snapshot, with no new data, names the input
(a fingerprint the caller computes) of a write that returned. `is_complete`
lets a caller skip computing its input when the latest snapshot is that
record (pipeline.materialize_assignments). A killed write leaves none, and
any later batch commit supersedes it.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stac_to_geocore_spark.tables.snapshots import SnapshotTable


def read_manifest(path: str) -> list[dict]:
    """One dict per committed partition, in commit order, with the `dir`
    of the batch directory under data/ that holds its rows."""
    return [{**m, "dir": s["dirs"][-1]}
            for s in SnapshotTable(path).history() for m in s.get("partitions", [])]


class LineageWriter:
    """Writes a DataFrame in sorted-key batches of `partition_col` values,
    with per-partition lineage rows and resume-on-restart."""

    def __init__(self, path: str, partition_col: str = "cell_p5"):
        self.path = path
        self.partition_col = partition_col
        self.table = SnapshotTable(path)
        self.data_dir = self.table.data_dir

    def completed_partitions(self) -> set:
        return {m["partition"] for m in read_manifest(self.path) if m.get("status") == "committed"}

    def is_complete(self, fingerprint: dict) -> bool:
        """True when the latest snapshot is a completion record naming
        `fingerprint`: no batch has been committed since."""
        v = self.table.latest_version()
        last = self.table._snapshot(v) if v else {}
        return last.get("op") == "complete" and last["fingerprint"] == fingerprint

    def mark_complete(self, fingerprint: dict) -> None:
        """Record that a write of the input named by `fingerprint` returned:
        a `complete` snapshot with the latest data dirs and no new ones."""
        self.table.commit("complete", lambda prev: prev, fingerprint=fingerprint)

    def write(
        self,
        df: DataFrame,
        run_id: str = "run",
        batch_size: int | None = None,
        fail_after_batches: int | None = None,
    ) -> list[dict]:
        """Write all not-yet-committed partitions of df and return their
        manifest rows in key order: stats from one aggregation, then one
        data-dir write and one snapshot commit per batch of `batch_size`
        partitions (None = all). Raises ValueError before any write if the
        partition column has nulls. elapsed_sec is the batch's write time
        apportioned by row share; rows_per_sec is the batch's.
        fail_after_batches: test hook — raise after N committed batches to
        simulate a kill."""
        pc = self.partition_col
        self.table.vacuum()  # data dirs and commit tmps left by a killed run
        done = self.completed_partitions()

        df = df.persist()
        try:
            key = F.col(pc).cast("string")
            rng = F.col("cell" if "cell" in df.columns else pc)
            # one row per DISTINCT key reaches the driver: a coarse cell prefix
            # by design, bounded by the cell vocabulary (~10^4-10^5 at planetary
            # coverage), not by the row count — driver-safe at 100 TB.
            stats = (
                df.groupBy(pc)
                .agg(
                    F.count(F.lit(1)).alias("row_count"),
                    F.expr("bit_xor(xxhash64(" + ", ".join(df.columns) + "))").alias("checksum"),
                    F.array(F.min(rng), F.max(rng)).cast("array<string>").alias("cell_range"),
                )
                .select(key.alias("partition"), "row_count", "checksum", "cell_range")
                .collect()
            )
            nulls = sum(s["row_count"] for s in stats if s["partition"] is None)
            if nulls:
                raise ValueError(f"partition column {pc!r} is null in {nulls} rows")
            pending = sorted((s.asDict() for s in stats if s["partition"] not in done),
                             key=lambda s: s["partition"])
            pending_rows = sum(s["row_count"] for s in pending)
            cache_parts = df.rdd.getNumPartitions()  # the cache is built: no job
            step = batch_size or max(len(pending), 1)
            batches = [pending[i : i + step] for i in range(0, len(pending), step)]
            written: list[dict] = []
            for bi, batch in enumerate(batches):
                if fail_after_batches is not None and bi >= fail_after_batches:
                    raise RuntimeError(f"injected failure before batch {bi}")
                t0 = time.monotonic()
                total_rows = sum(s["row_count"] for s in batch)
                files = -(-cache_parts * total_rows // pending_rows)
                bdf = df.filter(key.isin([s["partition"] for s in batch])).coalesce(files)
                name = self.table.write_data(bdf)
                elapsed = time.monotonic() - t0
                rate = round(total_rows / elapsed, 2) if elapsed > 0 else None
                rows = [
                    {"run_id": run_id, **s,
                     "elapsed_sec": round(elapsed * s["row_count"] / total_rows, 4),
                     "rows_per_sec": rate, "status": "committed"}
                    for s in batch
                ]
                self.table.commit("append", lambda prev: prev + [name], partitions=rows)
                written.extend({**r, "dir": name} for r in rows)
            return written
        finally:
            df.unpersist()

    def read(self, spark) -> DataFrame:
        """The committed rows: the batch directories the latest snapshot names."""
        return self.table.read(spark)
