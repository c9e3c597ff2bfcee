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
commit in batches of `batch_size`; the batch is the atomic unit. Layout:

  <path>/data/<name>/part-*.parquet      one directory per committed batch
  <path>/_lineage/manifest.jsonl         one line per batch: {"dir", "partitions"}

Each batch is one write and a two-phase commit (local-fs rename as the
atomic swap; on a real cluster the same protocol rides Iceberg's snapshot
commit via iceberg-spark-runtime, as tables/snapshots.py lays out):

  1. stage:  write filter(key in batch).coalesce(n_b) to <path>/.staging-<name>/
  2. swap:   os.rename it to <path>/data/<name>/
  3. commit: append the batch's manifest line in one fsynced write

<name> is b<the number of the batch's manifest line>: unique among
committed batches (run ids repeat) and in commit order. n_b = ceil(P *
batch rows / pending rows), P the cache's partition count: each write task
writes about a cache partition's rows, and a batch of at most 1/P of the
rows is one file. The filter runs inside those n_b tasks, so each scans
P / n_b cache partitions: every batch scans the whole cache, as a filter
over it must, on fewer tasks than P when the batch is small. Files are the
cost that counts on the local FS: without the native Hadoop library every
file or directory it creates forks `jspawnhelper` + `chmod`. At the
north_star checkpoint (17,802 rows in 80 partitions, local[4], 4 batches)
that is 6 files, against 80 with one directory per partition.

The table has no partition columns, so a cell-targeted read prunes nothing
at plan time: its filter is pushed to Parquet, which skips the files whose
key min/max misses the cell. A batch holds a contiguous key range, so the
read skips every other batch; the batch's own files each hold rows from
across its range and are read. Written in one batch, a table is read about
whole by any cell inside its key range.

Only directories that a committed line names are data. A crash between (2)
and (3) leaves a directory no line names: `read` skips it and the next
`write` deletes it, with any staging dir, and rewrites the batch. A crash
in (3) can leave a last line with no newline: not a commit, so readers skip
it and the next write truncates it. A torn line drops its whole batch, so
no row is ever in two committed directories.

The checksum is an order-independent XOR of xxhash64 over the row's columns,
computed by the JVM (F.xxhash64 + bit_xor) — no Python in the data path.

Completion record: `_lineage/complete.json` names the input (a fingerprint
the caller computes) of a write that returned, and the partitions committed
then, written tmp + fsync + os.replace. `is_complete` lets a caller skip
computing its input when that record matches and every partition it lists
is still committed (pipeline.materialize_assignments). A killed write leaves
no record, and an older record only ever lists committed partitions.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def read_manifest(path: str) -> list[dict]:
    """One dict per committed partition, in commit order, with the `dir`
    of the batch directory under data/ that holds its rows."""
    mf = os.path.join(path, "_lineage", "manifest.jsonl")
    if not os.path.exists(mf):
        return []
    with open(mf) as f:
        lines = f.read().split("\n")[:-1]  # the last piece is "" or the torn tail
    out = []
    for line in lines:
        if line.strip():
            batch = json.loads(line)
            out.extend({**m, "dir": batch["dir"]} for m in batch["partitions"])
    return out


class LineageWriter:
    """Writes a DataFrame in sorted-key batches of `partition_col` values,
    with per-partition lineage rows and resume-on-restart."""

    def __init__(self, path: str, partition_col: str = "cell_p5"):
        self.path = path
        self.partition_col = partition_col
        self.data_dir = os.path.join(path, "data")
        self.manifest_path = os.path.join(path, "_lineage", "manifest.jsonl")
        self.record_path = os.path.join(path, "_lineage", "complete.json")

    def completed_partitions(self) -> set:
        return {m["partition"] for m in read_manifest(self.path) if m.get("status") == "committed"}

    def is_complete(self, fingerprint: dict) -> bool:
        """True when the completion record names `fingerprint` and every
        partition it lists is still committed in the manifest."""
        try:
            with open(self.record_path) as f:
                rec = json.load(f)
        except FileNotFoundError:
            return False
        return (rec["fingerprint"] == fingerprint
                and set(rec["partitions"]) <= self.completed_partitions())

    def mark_complete(self, fingerprint: dict) -> None:
        """Record that a write of the input named by `fingerprint` returned,
        with the committed partitions: tmp file, fsync, atomic replace."""
        rec = {"fingerprint": fingerprint, "partitions": sorted(self.completed_partitions())}
        tmp = self.record_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(rec, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.record_path)

    def write(
        self,
        df: DataFrame,
        run_id: str = "run",
        batch_size: int | None = None,
        fail_after_batches: int | None = None,
    ) -> list[dict]:
        """Write all not-yet-committed partitions of df and return their
        manifest rows in key order: stats from one aggregation, then one
        staged write per batch of `batch_size` partitions (None = all).
        Raises ValueError before any write if the partition column has nulls.
        elapsed_sec is the batch's write time apportioned by row share;
        rows_per_sec is the batch's. fail_after_batches: test hook — raise
        after N committed batches to simulate a kill."""
        pc = self.partition_col
        for d in glob.glob(os.path.join(self.path, ".staging-*")):
            shutil.rmtree(d, ignore_errors=True)  # left by a killed run
        os.makedirs(os.path.dirname(self.manifest_path), exist_ok=True)
        if os.path.exists(self.manifest_path):
            with open(self.manifest_path, "rb+") as mf:  # drop a torn tail
                mf.truncate(mf.read().rfind(b"\n") + 1)
        committed = read_manifest(self.path)
        named = {m["dir"] for m in committed}
        for d in glob.glob(os.path.join(self.data_dir, "*")):
            if os.path.basename(d) not in named:  # swapped in by a killed run
                shutil.rmtree(d)
        done = {m["partition"] for m in committed}

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
                name = f"b{len(named) + bi:06d}"  # the batch's line number
                staging = os.path.join(self.path, f".staging-{name}")
                total_rows = sum(s["row_count"] for s in batch)
                files = -(-cache_parts * total_rows // pending_rows)
                bdf = df.filter(key.isin([s["partition"] for s in batch])).coalesce(files)
                bdf.write.mode("overwrite").parquet(staging)
                elapsed = time.monotonic() - t0
                os.makedirs(self.data_dir, exist_ok=True)
                os.rename(staging, os.path.join(self.data_dir, name))
                rate = round(total_rows / elapsed, 2) if elapsed > 0 else None
                rows = [
                    {"run_id": run_id, **s,
                     "elapsed_sec": round(elapsed * s["row_count"] / total_rows, 4),
                     "rows_per_sec": rate, "status": "committed"}
                    for s in batch
                ]
                with open(self.manifest_path, "a") as mf:
                    mf.write(json.dumps({"dir": name, "partitions": rows}) + "\n")
                    mf.flush()
                    os.fsync(mf.fileno())
                written.extend({**r, "dir": name} for r in rows)
            return written
        finally:
            df.unpersist()

    def read(self, spark) -> DataFrame:
        """The committed rows: only the batch directories the manifest names."""
        dirs = dict.fromkeys(m["dir"] for m in read_manifest(self.path))
        return spark.read.parquet(*(os.path.join(self.data_dir, d) for d in dirs))
