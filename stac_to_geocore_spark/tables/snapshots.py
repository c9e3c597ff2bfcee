"""Iceberg-style snapshot table: versioned commits + time travel.

Data files are IMMUTABLE once written; each commit creates a new numbered
snapshot whose metadata lists the data directories visible at that
version. Readers pin a version (time travel) or take the latest; writers
never mutate what a concurrent reader sees. The lineage layer
(tables/lineage.py) commits each of its batches here as one snapshot.

Layout:
  <path>/data/s<N>-<pid>/part-*.parquet   immutable data written for commit N
  <path>/_snapshots/v<N>.json             {"version", "op", "dirs", "ts", <caller keys>}

"dirs" holds names relative to data/, so the table can be moved or opened
through another path. Commit protocol: write data -> write v<N>.json.tmp ->
os.link exclusive-create (atomic compare-and-swap: a concurrent committer of
the same version loses and retries). A crash before the publish leaves an
orphan data dir that no snapshot references — invisible to every reader,
reclaimed by `vacuum()`. On a real cluster the same metadata flow rides an
Iceberg catalog (iceberg-spark-runtime); this is the sandbox-local
implementation of the identical protocol.

The reference anchor is the lastRun.txt delete-then-rewrite cycle
(s3_operations.py:31-43): its non-atomic replace window is exactly what a
snapshot pointer swap removes.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import time

from pyspark.sql import DataFrame, SparkSession


def _pid_alive(pid: int) -> bool:
    """True iff a process with this pid exists (signal 0 probes without
    sending). Guards vacuum's tmp sweep: a LIVE writer's in-flight tmp file
    must survive; only tmps from dead pids are stale."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


class SnapshotTable:
    def __init__(self, path: str):
        self.path = path
        self.meta_dir = os.path.join(path, "_snapshots")
        self.data_dir = os.path.join(path, "data")

    # ----- metadata -----

    def _meta_names(self) -> list[str]:
        """Names in _snapshots/; a table never committed to has none (reads
        create nothing: the directory is made by the first commit)."""
        return sorted(os.listdir(self.meta_dir)) if os.path.isdir(self.meta_dir) else []

    def history(self) -> list[dict]:
        out = []
        for fn in self._meta_names():
            m = re.fullmatch(r"v(\d+)\.json", fn)
            if m:
                with open(os.path.join(self.meta_dir, fn)) as f:
                    out.append(json.load(f))
        return sorted(out, key=lambda s: s["version"])

    def latest_version(self) -> int:
        """The highest published v<N>.json, from the file names alone."""
        names = (re.fullmatch(r"v(\d+)\.json", fn) for fn in self._meta_names())
        return max((int(m.group(1)) for m in names if m), default=0)

    def _snapshot(self, version: int) -> dict:
        p = os.path.join(self.meta_dir, f"v{version}.json")
        if not os.path.exists(p):
            raise ValueError(f"no snapshot v{version} at {self.path}")
        with open(p) as f:
            return json.load(f)

    def commit(self, op: str, dirs_fn, **extra) -> int:
        """Compare-and-swap publish (Iceberg commit semantics): the metadata
        file is linked into place with an EXCLUSIVE create, so two writers
        that both read the same latest_version() cannot both publish v<N> —
        the loser gets FileExistsError and retries (os.rename would silently
        clobber the winner's commit).

        dirs_fn receives the dir list of the CURRENT latest snapshot and
        returns the dir list to publish. It is re-evaluated on every retry:
        an append that loses the race must recompute prev against the
        winner's commit, or the winner's data dirs would silently vanish
        from the new latest (the lost-update this CAS exists to prevent).
        `extra` keys are stored in the snapshot next to the protocol's own."""
        os.makedirs(self.meta_dir, exist_ok=True)
        for _attempt in range(100):
            latest = self.latest_version()
            prev_dirs = self._snapshot(latest)["dirs"] if latest else []
            version = latest + 1
            meta = {
                "version": version, "op": op, "dirs": dirs_fn(prev_dirs),
                "ts": round(time.time(), 3), **extra,
            }
            tmp = os.path.join(self.meta_dir, f"v{version}.json.tmp.{os.getpid()}")
            with open(tmp, "w") as f:
                json.dump(meta, f)
                f.flush()
                os.fsync(f.fileno())
            final = os.path.join(self.meta_dir, f"v{version}.json")
            # The try block covers os.link ONLY: a FileNotFoundError from the
            # cleanup unlink (a cross-host vacuum sweeping tmp AFTER the link
            # published, hitting the link->unlink window) must NOT be treated
            # as "nothing was published" — retrying a PUBLISHED append would
            # re-add its data dir as the next version and double-count rows.
            try:
                os.link(tmp, final)  # atomic + exclusive: fails if v<N> exists
            except FileExistsError:
                # lost the race — re-read latest and retry. The unlink is
                # suppressed: the same vacuum race can sweep tmp first, and a
                # loser's cleanup must never crash the retry loop.
                with contextlib.suppress(FileNotFoundError):
                    os.unlink(tmp)
                continue
            except FileNotFoundError:
                # our tmp vanished BEFORE the link: vacuum's pid-liveness
                # probe is HOST-local, so on shared storage a vacuum on
                # another host can sweep a live writer's tmp. Non-fatal —
                # rewrite the tmp and retry (nothing was published).
                continue
            with contextlib.suppress(FileNotFoundError):
                os.unlink(tmp)
            return version
        raise RuntimeError(f"commit conflict persisted after 100 retries at {self.path}")

    # ----- writes (each produces a new immutable snapshot) -----

    def _next_data_dir(self) -> str:
        """First free s<N>-<pid> name considering BOTH live snapshots and
        on-disk orphans from crashed commits — a crash between data write and
        metadata publish must not block the next commit (the orphan stays
        invisible until vacuum() reclaims it). The pid suffix keeps two
        CONCURRENT writers that read the same listing from colliding on the
        same data dir (their commits are serialized by the CAS publish, but
        the data writes happen before it)."""
        used = {self.latest_version()}
        if os.path.isdir(self.data_dir):
            for fn in os.listdir(self.data_dir):
                m = re.fullmatch(r"s(\d+)(?:-\d+)?", fn)
                if m:
                    used.add(int(m.group(1)))
        return f"s{max(used) + 1}-{os.getpid()}"

    def write_data(self, df: DataFrame) -> str:
        """Write df to a new data dir that no snapshot names yet and return
        its name under data/; `commit` makes it visible."""
        d = self._next_data_dir()
        df.write.mode("errorifexists").parquet(os.path.join(self.data_dir, d))
        return d

    def append(self, df: DataFrame) -> int:
        """New snapshot = previous dirs + the new files (Iceberg append).
        prev is resolved INSIDE the CAS loop (see commit) so a retry after
        losing a commit race includes the winner's dirs."""
        d = self.write_data(df)
        return self.commit("append", lambda prev: prev + [d])

    def overwrite(self, df: DataFrame) -> int:
        """New snapshot sees only the new files; older versions still read
        the old data (this is what delete-then-write can never give)."""
        d = self.write_data(df)
        return self.commit("overwrite", lambda prev: [d])

    # ----- reads -----

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Time travel: read the table exactly as of `version` (default
        latest). Pure metadata — no data is copied or rewritten."""
        v = self.latest_version() if version is None else version
        dirs = self._snapshot(v)["dirs"]
        if not dirs:
            raise ValueError("empty table")
        return spark.read.parquet(*(os.path.join(self.data_dir, d) for d in dirs))

    def vacuum(self) -> list[str]:
        """Drop data dirs no live snapshot references (crash orphans or
        post-retention cleanup) and stale commit tmp files (a writer that
        died between open() and unlink() in commit leaves v<N>.json.tmp.<pid>
        behind forever — nothing else reclaims meta_dir). Returns removed
        paths.

        The pid-liveness probe is HOST-local: on shared storage a vacuum
        running on another host can sweep a live remote writer's in-flight
        tmp. That race is benign — commit treats a vanished tmp as a
        retryable event and rewrites it — but multi-host deployments should
        still prefer vacuuming from the writer host."""
        import shutil

        live: set[str] = set()
        for s in self.history():
            live.update(os.path.join(self.data_dir, d) for d in s["dirs"])
        removed = []
        if os.path.isdir(self.data_dir):
            for fn in sorted(os.listdir(self.data_dir)):
                d = os.path.join(self.data_dir, fn)
                if d not in live:
                    shutil.rmtree(d)
                    removed.append(d)
        for fn in self._meta_names():
            m = re.fullmatch(r"v\d+\.json\.tmp\.(\d+)", fn)
            if m and not _pid_alive(int(m.group(1))):
                p = os.path.join(self.meta_dir, fn)
                os.unlink(p)
                removed.append(p)
        return removed
