"""Snapshot table: append/overwrite versioning, time travel, crash-orphan
vacuum, and the atomic-publish property the reference's delete-then-write
cycle lacks."""

import json
import os

from pyspark.sql import functions as F

from stac_to_geocore_spark.tables.snapshots import SnapshotTable


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(F.col("id").alias("doc_id"))


def test_append_and_time_travel(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    assert t.append(_df(spark, 0, 100)) == 1
    assert t.append(_df(spark, 100, 150)) == 2
    assert t.read(spark, version=1).count() == 100
    assert t.read(spark, version=2).count() == 150
    assert t.read(spark).count() == 150  # latest


def test_overwrite_keeps_old_versions_readable(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.append(_df(spark, 0, 100))
    t.overwrite(_df(spark, 500, 510))
    assert t.read(spark, version=2).count() == 10
    old = t.read(spark, version=1)
    assert old.count() == 100 and old.agg(F.min("doc_id")).collect()[0][0] == 0


def test_history_and_ops(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.append(_df(spark, 0, 10))
    t.overwrite(_df(spark, 0, 5))
    h = t.history()
    assert [s["version"] for s in h] == [1, 2]
    assert [s["op"] for s in h] == ["append", "overwrite"]


def test_vacuum_reclaims_unreferenced_orphans(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.append(_df(spark, 0, 10))
    # simulate a crash between data write and metadata publish
    _df(spark, 0, 3).write.parquet(os.path.join(t.data_dir, "s99"))
    assert t.read(spark).count() == 10  # orphan invisible to readers
    removed = t.vacuum()
    assert removed == [os.path.join(t.data_dir, "s99")]
    assert t.read(spark).count() == 10


def test_tmp_metadata_never_visible(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.append(_df(spark, 0, 10))
    # a stale .tmp (crash before rename) must not surface as a snapshot
    with open(os.path.join(t.meta_dir, "v2.json.tmp"), "w") as f:
        json.dump({"version": 2, "op": "append", "dirs": []}, f)
    assert t.latest_version() == 1
    assert t.read(spark).count() == 10


def test_latest_version_reads_names_not_files(tmp_path):
    """latest_version() takes the highest v<N>.json name without parsing
    any snapshot, so a commit costs no read of the history."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    os.makedirs(t.meta_dir)
    with open(os.path.join(t.meta_dir, "v3.json"), "w") as f:
        f.write("{not json")
    assert t.latest_version() == 3


def _sweeping_unlink(monkeypatch):
    """Patch os.unlink so commit-tmp cleanup hits the cross-host vacuum race:
    the file is gone by the time our unlink runs (another host swept it), so
    the cleanup raises FileNotFoundError — exactly the link->unlink window."""
    real_unlink = os.unlink
    swept = []

    def sweep(p, *a, **kw):
        if ".json.tmp." in str(p):
            swept.append(str(p))
            if os.path.exists(p):
                real_unlink(p)
            raise FileNotFoundError(p)
        return real_unlink(p, *a, **kw)

    monkeypatch.setattr(os, "unlink", sweep)
    return swept


def test_post_link_swept_tmp_does_not_double_publish(spark, tmp_path, monkeypatch):
    """A vacuum on another host sweeping the tmp AFTER os.link published the
    commit must not be read as 'nothing was published': retrying would
    re-append the same data dir as the next version and double-count rows."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.append(_df(spark, 0, 10))
    swept = _sweeping_unlink(monkeypatch)
    v = t.append(_df(spark, 10, 15))
    assert v == 2 and swept  # the race fired and the commit returned once
    assert t.latest_version() == 2
    assert t.read(spark).count() == 15  # rows counted once, never re-added


def test_lost_race_cleanup_survives_swept_tmp(spark, tmp_path, monkeypatch):
    """The FileExistsError (lost-CAS) branch also unlinks the tmp; the same
    sweep race there must retry cleanly instead of crashing the commit."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.append(_df(spark, 0, 10))
    # a concurrent winner already published v2: our append must lose the CAS
    # on v2, survive the swept-tmp cleanup, and publish v3
    with open(os.path.join(t.meta_dir, "v2.json"), "w") as f:
        json.dump({"version": 2, "op": "append",
                   "dirs": t._snapshot(1)["dirs"], "ts": 0}, f)
    _sweeping_unlink(monkeypatch)
    v = t.append(_df(spark, 10, 15))
    assert v == 3
    assert t.read(spark).count() == 15


def test_crashed_commit_does_not_block_next_append(spark, tmp_path):
    """A crash between data write and metadata publish must not wedge the
    table: the next commit picks a fresh data dir, the orphan stays
    invisible until vacuum."""
    t = SnapshotTable(str(tmp_path / "tbl"))
    t.append(_df(spark, 0, 10))
    # simulate: data for a failed v2 commit exists, metadata never published
    _df(spark, 0, 3).write.parquet(os.path.join(t.data_dir, "s2"))
    v = t.append(_df(spark, 10, 15))  # must not raise 'path already exists'
    assert v == 2
    assert t.read(spark).count() == 15
    assert os.path.join(t.data_dir, "s2") in t.vacuum()


def test_reads_of_a_missing_table_create_nothing(tmp_path):
    """Reading a path no commit has reached is a read: it finds no versions
    and leaves the path as it was. The first commit makes _snapshots/."""
    from stac_to_geocore_spark.tables.lineage import LineageWriter, read_manifest

    path = str(tmp_path / "missing")
    t = SnapshotTable(path)
    assert t.history() == [] and t.latest_version() == 0 and t.vacuum() == []
    assert read_manifest(path) == []
    assert LineageWriter(path).is_complete({"rows": 1}) is False
    assert not os.path.exists(path)
    assert t.commit("complete", lambda prev: prev) == 1
    assert os.listdir(t.meta_dir) == ["v1.json"]
