"""Kill-resume of the full north-star pipeline (flagship + lineage):
the materialized assignments table after a crash + resume must equal a
clean one-shot run, without rewriting committed partitions; a rerun over
the same inputs after a completed run returns without the flagship."""

from __future__ import annotations

import os

import pytest
from test_lineage import _jobs
from test_plan_contract import _PYTHON_NODES, _sql_plans_of

from stac_to_geocore_spark import pipeline
from stac_to_geocore_spark.fixtures import boxes_df, gen_polygons_pdf, images_df, polygons_df
from stac_to_geocore_spark.pipeline import flagship, materialize_assignments
from stac_to_geocore_spark.tables.lineage import LineageWriter, read_manifest


def test_flagship_kill_resume(spark, tmp_path):
    imgs = images_df(spark, 4000, bytes_mode="none")
    polys = polygons_df(spark, 24)
    crash_path = str(tmp_path / "crash")
    with pytest.raises(RuntimeError, match="injected failure"):
        # simulate a kill after 2 committed batches of 3 partitions
        from pyspark.sql import functions as F

        out = flagship(imgs, polys).withColumn("cell", F.col("h3_r7"))
        LineageWriter(crash_path, partition_col="cell_p5").write(
            out, run_id="r1", batch_size=3, fail_after_batches=2
        )
    committed = {m["partition"] for m in read_manifest(crash_path)}
    assert committed

    resumed_rows = materialize_assignments(imgs, polys, crash_path, run_id="r2", batch_size=3)
    assert {m["partition"] for m in resumed_rows}.isdisjoint(committed)
    # per-partition throughput metrics present (north_rule)
    assert all("rows_per_sec" in m and m["row_count"] > 0 for m in resumed_rows)

    clean_path = str(tmp_path / "clean")
    materialize_assignments(imgs, polys, clean_path, run_id="clean")
    a = LineageWriter(crash_path).read(spark).orderBy("image_id", "poly_id").toPandas()
    b = LineageWriter(clean_path).read(spark).orderBy("image_id", "poly_id").toPandas()
    cols = [c for c in a.columns if c != "cell_p5"]
    assert a[cols].equals(b[cols])


# --- resume without recompute: the completion record ---------------------


@pytest.fixture()
def small_inputs(spark, tmp_path):
    """2,000 images read from parquet (no Python to scan them) and 9
    fixture boxes as pandas; the tests start from the first 8."""
    path = str(tmp_path / "imgs")
    images_df(spark, 2000, bytes_mode="none").write.parquet(path)
    return spark.read.parquet(path), gen_polygons_pdf(9)


def _partitions(imgs, polys) -> set:
    return {str(r[0]) for r in flagship(imgs, polys).select("cell_p5").distinct().collect()}


def test_same_input_rerun_skips_the_flagship(spark, tmp_path, small_inputs, monkeypatch):
    imgs, pdf = small_inputs
    polys = boxes_df(spark, pdf.head(8))
    path = str(tmp_path / "t")
    assert materialize_assignments(imgs, polys, path, run_id="r1", batch_size=2)

    def no_flagship(*a, **k):
        raise AssertionError("resume planned the flagship")

    monkeypatch.setattr(pipeline, "encode_stage", no_flagship)
    out = {}

    def resume():
        out["rows"], out["jobs"] = _jobs(spark, lambda: materialize_assignments(
            imgs, polys, path, run_id="r2", batch_size=2))

    plans = _sql_plans_of(spark, resume)
    assert out["rows"] == [] and 0 < out["jobs"] <= 4
    # the fingerprint's aggregates are the only work: no encode UDF, no Python
    for plan in plans:
        for node in _PYTHON_NODES:
            assert node not in plan, plan


def test_added_box_commits_only_new_partitions(spark, tmp_path, small_inputs):
    imgs, pdf = small_inputs
    path = str(tmp_path / "t")
    first = materialize_assignments(imgs, boxes_df(spark, pdf.head(8)), path, run_id="r1")
    polys = boxes_df(spark, pdf)
    new = _partitions(imgs, polys) - {m["partition"] for m in first}
    assert new
    second = materialize_assignments(imgs, polys, path, run_id="r2")
    assert {m["partition"] for m in second} == new
    assert materialize_assignments(imgs, polys, path, run_id="r3") == []


def test_killed_run_leaves_no_record_and_resumes(spark, tmp_path, small_inputs, monkeypatch):
    imgs, pdf = small_inputs
    polys = boxes_df(spark, pdf.head(8))
    path = str(tmp_path / "t")
    write = LineageWriter.write
    monkeypatch.setattr(LineageWriter, "write",
                        lambda self, df, **kw: write(self, df, fail_after_batches=1, **kw))
    with pytest.raises(RuntimeError, match="injected failure"):
        materialize_assignments(imgs, polys, path, run_id="r1", batch_size=2)
    monkeypatch.undo()
    w = LineageWriter(path)
    assert "complete" not in [s["op"] for s in w.table.history()]
    committed = w.completed_partitions()
    assert len(committed) == 2
    rows = materialize_assignments(imgs, polys, path, run_id="r2", batch_size=2)
    assert {m["partition"] for m in rows}.isdisjoint(committed)
    assert {m["partition"] for m in rows} | committed == _partitions(imgs, polys)
    assert w.table.history()[-1]["op"] == "complete"


def test_complete_that_is_not_latest_falls_through(spark, tmp_path, small_inputs, monkeypatch):
    """A completion record counts only while it is the latest snapshot: a
    commit after it sends the next call down the full path, which records
    complete again."""
    imgs, pdf = small_inputs
    polys = boxes_df(spark, pdf.head(8))
    path = str(tmp_path / "t")
    materialize_assignments(imgs, polys, path, run_id="r1")
    w = LineageWriter(path)
    record = w.table.history()[-1]
    assert record["op"] == "complete"
    w.table.commit("append", lambda prev: prev)  # a commit after the record
    calls = []
    encode = pipeline.encode_stage
    monkeypatch.setattr(pipeline, "encode_stage", lambda *a, **k: calls.append(1) or encode(*a, **k))
    assert materialize_assignments(imgs, polys, path, run_id="r2") == []
    assert calls == [1]
    last = w.table.history()[-1]
    assert last["op"] == "complete" and last["fingerprint"] == record["fingerprint"]


def test_moved_table_reads_and_resumes(spark, tmp_path, small_inputs):
    """Snapshots name data dirs relative to the table: a renamed root still
    reads every row and still resumes from its completion record."""
    imgs, pdf = small_inputs
    polys = boxes_df(spark, pdf.head(8))
    path, moved = str(tmp_path / "t"), str(tmp_path / "moved")
    rows = materialize_assignments(imgs, polys, path, run_id="r1", batch_size=2)
    os.rename(path, moved)
    assert LineageWriter(moved).read(spark).count() == sum(m["row_count"] for m in rows)
    assert materialize_assignments(imgs, polys, moved, run_id="r2") == []
