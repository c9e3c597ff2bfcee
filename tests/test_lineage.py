"""Per-partition lineage: manifest contents, kill-resume without recompute
(SURVEY.md §5.2 item 6; BASELINE.json north_rule)."""

from __future__ import annotations

import os
import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from stac_to_geocore_spark.fixtures import images_df
from stac_to_geocore_spark.pipeline import encode_stage
from stac_to_geocore_spark.tables.lineage import LineageWriter, read_manifest
from stac_to_geocore_spark.tables.snapshots import SnapshotTable


@pytest.fixture()
def encoded(spark):
    return encode_stage(images_df(spark, 3000, bytes_mode="none"))


@pytest.fixture()
def small(spark):
    """400 rows over the 10 partitions "0".."9"."""
    return spark.range(400).select("id", (F.col("id") % 10).cast("int").alias("cell_p5"))


def _jobs(spark, fn):
    """fn()'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"lineage-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "lineage job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_write_commits_all_partitions(spark, tmp_path, encoded):
    w = LineageWriter(str(tmp_path / "t1"))
    rows = w.write(encoded, run_id="r1")
    manifest = read_manifest(w.path)
    assert len(manifest) == len(rows) > 0
    assert all(m["status"] == "committed" for m in manifest)
    assert all(m["row_count"] > 0 for m in manifest)
    assert all(m["cell_range"][0] <= m["cell_range"][1] for m in manifest)
    got = w.read(spark)
    assert got.count() == 3000


def test_kill_resume_without_recompute(spark, tmp_path, encoded):
    path = str(tmp_path / "t2")
    w = LineageWriter(path)
    with pytest.raises(RuntimeError, match="injected failure"):
        w.write(encoded, run_id="r1", batch_size=3, fail_after_batches=2)
    assert [s["op"] for s in w.table.history()] == ["append", "append"]
    first = read_manifest(path)
    committed_first = {m["partition"] for m in first}
    assert 0 < len(committed_first) < encoded.select("cell_p5").distinct().count()
    # record mtimes of committed batch dirs — resume must not rewrite them
    mtimes = {
        d: os.path.getmtime(os.path.join(w.data_dir, d)) for d in {m["dir"] for m in first}
    }
    rows2 = w.write(encoded, run_id="r2", batch_size=3)
    assert {m["partition"] for m in rows2}.isdisjoint(committed_first)
    for d, t in mtimes.items():
        assert os.path.getmtime(os.path.join(w.data_dir, d)) == t
    # complete + identical to a clean one-shot write
    clean = LineageWriter(str(tmp_path / "t3"))
    clean.write(encoded, run_id="clean")
    a = w.read(spark).orderBy("image_id").toPandas()
    b = clean.read(spark).orderBy("image_id").toPandas()
    assert a.drop(columns=["cell_p5"]).equals(b.drop(columns=["cell_p5"]))


def test_checksums_match_recompute(spark, tmp_path, encoded):
    w = LineageWriter(str(tmp_path / "t4"))
    w.write(encoded, run_id="r1")
    manifest = {m["partition"]: m for m in read_manifest(w.path)}
    back = w.read(spark)
    cols = [c for c in encoded.columns]
    stats = (
        back.groupBy(F.col("cell_p5").cast("string").alias("p"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(" + ", ".join(cols) + "))").alias("chk"),
        )
        .collect()
    )
    for s in stats:
        assert manifest[s["p"]]["row_count"] == s["n"]
        assert manifest[s["p"]]["checksum"] == int(s["chk"])


def test_idempotent_rerun_is_noop(spark, tmp_path, encoded):
    w = LineageWriter(str(tmp_path / "t5"))
    w.write(encoded, run_id="r1")
    assert w.write(encoded, run_id="r2") == []


def test_one_stats_pass_then_one_write_per_batch(spark, tmp_path, small):
    w = LineageWriter(str(tmp_path / "jobs"))
    rows, jobs = _jobs(spark, lambda: w.write(small, run_id="r1", batch_size=3))
    # 10 partitions in batches of 3 -> k = 4 commit batches; the stats pass
    # and the persist add at most 3 jobs (a per-batch stats collect adds k)
    assert jobs <= 4 + 3
    assert [m["partition"] for m in read_manifest(w.path)] == [str(i) for i in range(10)]
    assert [m["partition"] for m in rows] == [str(i) for i in range(10)]
    assert sum(m["row_count"] for m in rows) == 400
    again, jobs = _jobs(spark, lambda: w.write(small, run_id="r2", batch_size=3))
    assert again == [] and jobs <= 3


def test_null_partition_key_raises_before_any_write(spark, tmp_path):
    df = spark.range(100).select(
        "id", F.when(F.col("id") % 10 == 0, None).otherwise(F.col("id") % 7).alias("cell_p5")
    )
    w = LineageWriter(str(tmp_path / "nulls"))
    with pytest.raises(ValueError, match=r"'cell_p5' is null in 10 rows"):
        w.write(df, run_id="r1", batch_size=2)
    assert read_manifest(w.path) == []
    assert not os.path.exists(w.data_dir)


def test_each_batch_is_a_snapshot_version(spark, tmp_path, small):
    """Batch k commits snapshot version k, which reads exactly the rows of
    batches 1..k. A commit file that is not JSON is an error, never a
    shorter manifest."""
    w = LineageWriter(str(tmp_path / "versions"))
    w.write(small, run_id="r1", batch_size=4)
    manifest = read_manifest(w.path)
    dirs = list(dict.fromkeys(m["dir"] for m in manifest))
    assert len(dirs) == 3
    for v in (1, 2, 3):
        got = SnapshotTable(w.path).read(spark, version=v).groupBy("cell_p5").count().collect()
        assert {str(r["cell_p5"]): r["count"] for r in got} == {
            m["partition"]: m["row_count"] for m in manifest if m["dir"] in dirs[:v]}
    with open(os.path.join(w.table.meta_dir, "v4.json"), "w") as f:
        f.write("{not json\n")
    with pytest.raises(ValueError):
        read_manifest(w.path)


def test_stale_staging_dirs_are_removed(spark, tmp_path, small, monkeypatch):
    """A write killed between its data-dir write and its commit leaves a
    staged dir no snapshot names; a writer killed mid-commit leaves a
    v<N>.json.tmp.<pid>. The next write() removes both."""
    path = tmp_path / "stale"
    w = LineageWriter(str(path))

    def killed(*a, **k):
        raise RuntimeError("killed before the commit")

    monkeypatch.setattr(w.table, "commit", killed)
    with pytest.raises(RuntimeError, match="killed"):
        w.write(small, run_id="r1")
    monkeypatch.undo()
    assert len(os.listdir(w.data_dir)) == 1 and read_manifest(w.path) == []
    # no process has this pid (pid_max is < 2^22 on linux); no commit has
    # run, so the killed writer's tmp is the first file in _snapshots/
    os.makedirs(w.table.meta_dir)
    with open(os.path.join(w.table.meta_dir, "v1.json.tmp.4999999"), "w") as f:
        f.write("{")
    w.write(small, run_id="r2")
    assert sorted(os.listdir(path)) == ["_snapshots", "data"]
    assert os.listdir(w.table.meta_dir) == ["v1.json"]
    assert os.listdir(w.data_dir) == [read_manifest(w.path)[0]["dir"]]
    assert w.read(spark).count() == 400


@pytest.fixture()
def spread(spark):
    """2,000 rows over 37 partitions, spread over 8 input partitions."""
    return spark.range(0, 2000, 1, 8).select(
        "id", (F.col("id") % 37).cast("int").alias("cell_p5"), (F.col("id") * 7919).alias("cell"))


def test_one_directory_per_batch(spark, tmp_path, spread):
    """37 partitions in batches of 10 are 4 batch directories; each holds
    n_b = ceil(P * batch rows / pending rows) files, P = 8 cache partitions."""
    w = LineageWriter(str(tmp_path / "files"))
    w.write(spread, run_id="r1", batch_size=10)
    batch_rows: dict[str, int] = {}
    for m in read_manifest(w.path):
        batch_rows[m["dir"]] = batch_rows.get(m["dir"], 0) + m["row_count"]
    assert len(batch_rows) == 4
    assert sorted(os.listdir(w.data_dir)) == sorted(batch_rows)
    for d, rows in batch_rows.items():
        files = [f for f in os.listdir(os.path.join(w.data_dir, d)) if f.startswith("part-")]
        assert len(files) == -(-8 * rows // 2000), (d, rows, files)
    assert w.read(spark).count() == 2000


@pytest.mark.parametrize("fault", ["orphan_dir"])
def test_uncommitted_batch_dir_is_not_read_and_is_removed(spark, tmp_path, small, fault):
    """A batch directory that no committed snapshot names holds no
    committed rows: read() skips it and the next write() deletes it, so a
    rewritten batch never stores its rows twice."""
    w = LineageWriter(str(tmp_path / fault))
    w.write(small, run_id="r1", batch_size=4)
    # killed between data write and commit: a batch dir no snapshot names
    src = os.path.join(w.data_dir, read_manifest(w.path)[0]["dir"])
    shutil.copytree(src, os.path.join(w.data_dir, "killed-0-0123abcd"))
    manifest = read_manifest(w.path)
    orphans = set(os.listdir(w.data_dir)) - {m["dir"] for m in manifest}
    assert len(orphans) == 1
    assert w.read(spark).count() == sum(m["row_count"] for m in manifest)
    w.write(small, run_id="r2", batch_size=4)
    manifest = read_manifest(w.path)
    assert sorted(os.listdir(w.data_dir)) == sorted({m["dir"] for m in manifest})
    assert orphans.isdisjoint(os.listdir(w.data_dir))
    assert w.read(spark).count() == sum(m["row_count"] for m in manifest) == 400
