"""Sinks (SURVEY.md §2.2 K1-K4): object-store puts, run manifest, snapshot
overwrite, CSV export.

The reference writes one JSON object per record to S3 (s3_operations.py:
92-119), logs every key to lastRun.txt (app.py:69,116,135,162,164), and next
run deletes everything listed before re-writing (s3_operations.py:31-43) —
a non-atomic delete-then-write window. The engine keeps the manifest
protocol (for reference parity) and adds an atomic variant, which stages
the new run and swaps it in — the Iceberg-style replace. Every writer
shares the same three steps:

  open_run   delete the previous run, or start a fresh staging dir; clear
             stale manifest parts                                (driver)
  put_part   put each record, list its keys in one part file    (per task)
  close_run  merge the parts into lastRun.txt; swap if atomic     (driver)

run_harvest calls put_part inside its page tasks, so each record is
fetched, translated and put in one Python pass; run_harvest_sink and
snapshot_overwrite are the same steps around a (key, json) DataFrame.

ObjectStore is a minimal injectable interface: LocalObjectStore for this
sandbox, an S3 client drop-in on a real cluster.
"""

from __future__ import annotations

import os
import shutil
from typing import Iterable

from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession

MANIFEST_KEY = "lastRun.txt"


class LocalObjectStore:
    """Filesystem-backed object store (keys are relative paths)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, key: str) -> str:
        return os.path.join(self.root, key)

    def put(self, key: str, text: str) -> None:
        p = self._path(key)
        os.makedirs(os.path.dirname(p) or self.root, exist_ok=True)
        with open(p, "w", encoding="utf-8") as f:
            f.write(text)

    def get(self, key: str) -> str | None:
        p = self._path(key)
        if not os.path.exists(p):
            return None
        with open(p, encoding="utf-8") as f:
            return f.read()

    def delete(self, key: str) -> None:
        p = self._path(key)
        if os.path.exists(p):
            os.remove(p)

    def list(self) -> list[str]:
        out = []
        for dirpath, _, files in os.walk(self.root):
            for fn in files:
                out.append(os.path.relpath(os.path.join(dirpath, fn), self.root))
        return sorted(out)


PARTS_PREFIX = "_manifest_parts"
CONSUMED_SUFFIX = ".consumed"


def _staging(store_root: str) -> str:
    return store_root.rstrip("/") + ".staging"


def open_run(store_root: str, atomic: bool = False) -> str:
    """Sink step 1: open a run and return the directory its objects and
    manifest parts go to. Reference semantics delete the previous run's
    keys through its manifest (K3) and write in place; `atomic` starts a
    fresh staging dir instead. Either way, part files or a half-consumed
    merge dir left by a run that crashed between its puts and its merge
    are cleared: merged into THIS run's manifest, they would list keys
    this run never wrote."""
    if atomic:
        run_root = _staging(store_root)
        shutil.rmtree(run_root, ignore_errors=True)
    else:
        run_root = store_root
        delete_previous_run(LocalObjectStore(store_root))
    parts_dir = LocalObjectStore(run_root)._path(PARTS_PREFIX)
    shutil.rmtree(parts_dir, ignore_errors=True)
    shutil.rmtree(parts_dir + CONSUMED_SUFFIX, ignore_errors=True)
    return run_root


def put_part(run_root: str, docs: Iterable[tuple[str, str]]) -> int:
    """Sink step 2 (K1): put each (key, json) doc as one object, then list
    the keys in one manifest part file, so the manifest is built in the
    same pass with nothing collected to the driver. Returns the key count.

    A Spark task writes part <partition id + 1>, so a retried task
    rewrites the same objects and the same part file. The driver writes
    part 0 (run_harvest's root and collection docs), so its keys lead
    lastRun.txt."""
    store = LocalObjectStore(run_root)
    keys = []
    for key, text in docs:
        store.put(key, text)
        keys.append(key)
    if keys:
        task = TaskContext.get()
        part = task.partitionId() + 1 if task else 0
        store.put(f"{PARTS_PREFIX}/part-{part:05d}.txt", "".join(f"{k}\n" for k in keys))
    return len(keys)


def close_run(store_root: str, atomic: bool = False) -> list[str]:
    """Sink step 3: merge the run's parts into lastRun.txt (K2) and, if
    atomic, swap the staged run in for the old one (local rename; an
    Iceberg snapshot commit on a cluster), so readers never observe a
    half-written run. Returns the manifest key list."""
    run_root = _staging(store_root) if atomic else store_root
    store = LocalObjectStore(run_root)
    merge_manifest_parts(store)
    keys = _manifest_keys(store)
    if atomic:
        old = store_root.rstrip("/") + ".old"
        shutil.rmtree(old, ignore_errors=True)
        if os.path.exists(store_root):
            os.rename(store_root, old)
        os.rename(run_root, store_root)
        shutil.rmtree(old, ignore_errors=True)
    return keys


def write_objects(df: DataFrame, store_root: str, manifest_parts: bool = False):
    """K1 over a DataFrame: df must be (key, json). Distributed: each
    partition writes its own objects (the reference uploads serially,
    app.py:113/131/158); with manifest_parts=True each partition also logs
    its keys to one part file (`put_part`). `foreachPartition` pickles
    every row into a Python worker; run_harvest puts inside its page tasks
    instead."""

    def put_batch(rows) -> None:
        docs = ((row["key"], row["json"]) for row in rows)
        if manifest_parts:
            put_part(store_root, docs)
        else:
            store = LocalObjectStore(store_root)
            for key, text in docs:
                store.put(key, text)

    df.foreachPartition(put_batch)


def merge_manifest_parts(store: LocalObjectStore) -> int:
    """K2: assemble lastRun.txt (ref app.py:69,164) by streaming the
    per-partition part files in partition order — the driver never holds
    more than one part in memory (vs the old collect() of every key, a
    driver OOM at billions of records). Returns the key count.

    Crash-safe protocol (every intermediate state recovers by re-running
    merge, with no key ever lost):

      1. rename _manifest_parts/ -> _manifest_parts.consumed/  (atomic:
         ALL parts move together; a later crash can't strand a subset)
      2. stream the consumed parts into lastRun.txt.tmp, fsync
      3. rename tmp -> lastRun.txt                              (atomic)
      4. rmtree the consumed dir

    Crash after 1: old manifest + consumed dir -> re-run resumes from the
    consumed dir. Crash after 3: new manifest + consumed dir -> re-run
    rebuilds the IDENTICAL manifest from the same consumed parts
    (idempotent), then cleans up. Round 2 deleted parts one-by-one after
    publishing, so a crash mid-deletion made the prescribed re-run rebuild
    the manifest from only the SURVIVING parts — silently dropping keys."""
    parts_dir = store._path(PARTS_PREFIX)
    consumed_dir = parts_dir + CONSUMED_SUFFIX
    if not os.path.isdir(consumed_dir):
        if os.path.isdir(parts_dir):
            os.rename(parts_dir, consumed_dir)  # step 1
        else:
            os.makedirs(consumed_dir, exist_ok=True)  # nothing staged: empty run
    # else: resuming a crashed merge — the consumed dir is the source of truth
    parts = sorted(
        fn for fn in os.listdir(consumed_dir)
        if os.path.isfile(os.path.join(consumed_dir, fn))
    )
    n = 0
    manifest_path = store._path(MANIFEST_KEY)
    os.makedirs(os.path.dirname(manifest_path) or store.root, exist_ok=True)
    tmp_path = manifest_path + ".tmp"
    with open(tmp_path, "w", encoding="utf-8") as out:
        for part in parts:
            with open(os.path.join(consumed_dir, part), encoding="utf-8") as f:
                text = f.read()
            out.write(text)
            n += text.count("\n")
        out.flush()
        os.fsync(out.fileno())
    os.rename(tmp_path, manifest_path)  # step 3: atomic publish
    shutil.rmtree(consumed_dir, ignore_errors=True)  # step 4
    return n


def delete_previous_run(store: LocalObjectStore) -> int:
    """K3 (reference semantics): read old manifest, delete every listed key
    (ref s3_operations.py:31-43). Returns number deleted."""
    manifest = store.get(MANIFEST_KEY)
    if manifest is None:
        return 0
    n = 0
    for key in manifest.splitlines():
        if key:
            store.delete(key)
            n += 1
    return n


def _manifest_keys(store: LocalObjectStore) -> list[str]:
    """Key list read back from the manifest object — a convenience for
    small-harvest callers and the reference-parity tests; the manifest
    itself is never built through a Spark collect."""
    manifest = store.get(MANIFEST_KEY) or ""
    return [k for k in manifest.splitlines() if k]


def run_harvest_sink(df: DataFrame, store_root: str) -> list[str]:
    """The reference's full sink protocol over a (key, json) DataFrame:
    delete the previous run, write all records + per-partition manifest
    parts in ONE distributed pass, then stream-merge the parts into
    lastRun.txt."""
    run_root = open_run(store_root)
    write_objects(df, run_root, manifest_parts=True)
    return close_run(store_root)


def snapshot_overwrite(df: DataFrame, store_root: str) -> list[str]:
    """Engine-native replacement for delete-then-write: stage the run in a
    sibling dir, then atomically swap it in (`close_run`)."""
    run_root = open_run(store_root, atomic=True)
    write_objects(df, run_root, manifest_parts=True)
    return close_run(store_root, atomic=True)


def export_csv(spark: SparkSession, parquet_path: str, csv_path: str) -> None:
    """K4: the Export-to-csv.py job (ref :26-59) as a two-line Spark plan."""
    spark.read.parquet(parquet_path).write.mode("overwrite").option("header", True).csv(csv_path)
