"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship north-star pipeline (H3 encode + PIP join + tile
                 assignment) on a deterministic synthetic images table.
queries()      — one callable per implemented operator (SURVEY.md §2),
                 hard-capped at 50 (the driver's CORRECTNESS window);
                 demoted TPC-H/window variants live in extra_queries().
oracle_sql()   — DuckDB oracle for EVERY gate query: live ANSI SQL where
                 the logic is SQL-expressible, frozen known-answer VALUES
                 literals (scripts/freeze_known_answers.py) for
                 deterministic engine-only ops (cell encoders, minhash,
                 geocore compat) — zero rows-only entries.

Float discipline: every aggregate/derived float column is rounded in BOTH
engines so the driver's value-hash is stable; synthetic coordinates are
derived with exact integer arithmetic so Spark and DuckDB see identical
doubles.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from stac_to_geocore_spark.session import local_df

SF_SMOKE = "/root/testdata/sf0.001"

# ---------------------------------------------------------------- helpers

def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Deterministic synthetic points from customer rows: exact integer math ->
# identical doubles in Spark and DuckDB.
_POINTS_SQL = """
    SELECT c_custkey AS point_id,
           -140.5 + ((c_custkey * 2654435761) % 1000000) / 1000000.0 * 88.0  AS lon,
           41.5  + ((c_custkey * 40503 + 12345) % 1000000) / 1000000.0 * 42.0 AS lat
    FROM customer
"""


def _points_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("point_id"),
        (F.lit(-140.5) + ((F.col("c_custkey") * F.lit(2654435761)) % F.lit(1000000)) / F.lit(1000000.0) * F.lit(88.0)).alias("lon"),
        (F.lit(41.5) + ((F.col("c_custkey") * F.lit(40503) + F.lit(12345)) % F.lit(1000000)) / F.lit(1000000.0) * F.lit(42.0)).alias("lat"),
    )


def _fixture_polygons_pdf():
    from stac_to_geocore_spark.fixtures import gen_polygons_pdf

    return gen_polygons_pdf(24, seed=42)


def _polygons_values_sql() -> str:
    p = _fixture_polygons_pdf()
    rows = ", ".join(
        f"('{r.poly_id}', {r.west}, {r.south}, {r.east}, {r.north})"
        for r in p.itertuples(index=False)
    )
    return f"(VALUES {rows}) AS polys(poly_id, west, south, east, north)"


def _ring_polys() -> list[tuple[str, list[float], list[float]]]:
    """Deterministic non-convex star rings over the synthetic points' domain.
    Vertices are plain python floats shared verbatim by the Spark query
    (array literals) and the DuckDB oracle (repr literals), so both engines
    ray-cast identical doubles. Angle offset 0.13 keeps every edge
    non-horizontal (no division-by-zero branch in either engine)."""
    import math

    out = []
    for pi, (cx, cy, ro, ri) in enumerate(
        [(-120.0, 55.0, 8.0, 3.5), (-95.0, 70.0, 9.0, 4.0), (-70.0, 50.0, 7.0, 3.0)]
    ):
        xs, ys = [], []
        for k in range(10):
            ang = 0.13 + k * (2.0 * math.pi / 10.0)
            r = ro if k % 2 == 0 else ri
            xs.append(cx + r * math.cos(ang))
            ys.append(cy + r * math.sin(ang))
        out.append((f"ring-{pi}", xs, ys))
    return out


def _ring_edges_sql() -> str:
    rows = []
    for pid, xs, ys in _ring_polys():
        for i in range(len(xs)):
            j = (i + 1) % len(xs)
            rows.append(f"('{pid}', {xs[i]!r}, {ys[i]!r}, {xs[j]!r}, {ys[j]!r})")
    return "(VALUES " + ", ".join(rows) + ") AS e(poly_id, x1, y1, x2, y2)"


_KNN_QUERIES = [
    ("q-00", -118.319, 54.355), ("q-01", -92.759, 63.429), ("q-02", -68.626, 49.391),
    ("q-03", -135.029, 75.571), ("q-04", -77.736, 70.305),
]


# ---------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: synthetic images (counter-based, distributed gen) ->
    H3/S2/tile encode -> broadcast grid-cell PIP join -> assignments."""
    from stac_to_geocore_spark.fixtures import images_df, polygons_df
    from stac_to_geocore_spark.pipeline import flagship

    images = images_df(spark, 2000, bytes_mode="none")
    polys = polygons_df(spark, 24)
    return flagship(images, polys)


# ---------------------------------------------------------------- queries

def _q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < F.lit("1995-03-15"))
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > F.lit("1995-03-15"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


def _q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )


def _q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("c_nationkey", "c_custkey", "rnk", F.round("c_acctbal", 2).alias("acctbal"))
    )


def _q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    # group on the truncated TIMESTAMP and string-format AFTER the agg:
    # date_format is the expensive half of the key expression, and this
    # moves it from one call per event row to one per output group
    # (~1000x fewer at sf1.0; measured 0.70 s -> 0.41 s, identical rows —
    # the formatted key is a bijection of the truncated timestamp within
    # one session timezone, so the grouping is unchanged)
    return (
        e.groupBy(F.date_trunc("hour", "ts").alias("_hour_ts"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 3).alias("total_value"))
        .select(
            F.date_format("_hour_ts", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type", "n", "total_value",
        )
    )


def _q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return (
        e.withColumn("new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0))
        .groupBy("user_id")
        .agg(F.sum("new_sess").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
    )


_STREAM_REPLAY_SEQ = 0


def _replay_events_complete(spark: SparkSession, sf_dir: str, build, tag: str) -> DataFrame:
    """Batch/stream equivalence harness (round-4 VERDICT #6): replay the
    events table through `stream_events_from_dir` in CHRONOLOGICAL
    micro-batches and finalize via trigger(availableNow) + complete-mode
    memory sink; the returned table is the stream's answer to compare
    against the batch oracle.

    Chronology matters: the events span one month, and a random file split
    arrives out of event-time order — after the first micro-batch the 2 h
    watermark sits near month-end and every later file is dropped as late
    (measured: sessions lost ~70% of events). The replay therefore writes
    EIGHT day-range chunks, ONE parquet file each (a micro-batch is a
    complete time slice, so intra-batch disorder never crosses the
    watermark), with explicit increasing mtimes because the file source
    orders by modification time at one-second granularity."""
    import glob
    import os
    import shutil
    import tempfile

    from stac_to_geocore_spark.streaming.events import stream_events_from_dir

    global _STREAM_REPLAY_SEQ
    _STREAM_REPLAY_SEQ += 1
    qname = f"replay_{tag}_{_STREAM_REPLAY_SEQ}"
    tmp = tempfile.mkdtemp(prefix=f"{qname}_")
    src = os.path.join(tmp, "in")
    os.makedirs(src)
    e = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props")
    base = None
    for i in range(8):
        lo, hi = 1 + 4 * i, 1 + 4 * (i + 1)
        chunk = e.filter((F.dayofmonth("ts") >= lo) & (F.dayofmonth("ts") < hi))
        stage = os.path.join(tmp, f"stage_{i}")
        chunk.coalesce(1).write.parquet(stage)
        (part,) = glob.glob(os.path.join(stage, "part-*.parquet"))
        dst = os.path.join(src, f"chunk_{i:02d}.parquet")
        shutil.move(part, dst)
        if base is None:
            base = os.stat(dst).st_mtime
        os.utime(dst, (base + i, base + i))
    # failure paths must not leak the staged chunks (or, on timeout, the
    # half-filled memory-sink table): everything from here on cleans up in
    # finally/except, and only the success path keeps the sink table alive
    # for the caller
    q = None
    try:
        out = build(stream_events_from_dir(spark, src, max_files=1))
        q = (out.writeStream.format("memory").queryName(qname)
             .outputMode("complete").trigger(availableNow=True).start())
        finished = q.awaitTermination(600)
        if not finished:
            raise TimeoutError(
                f"{qname}: availableNow replay did not finish in 600 s — a "
                "partial complete-mode snapshot must never reach the oracle")
    except BaseException:
        # ANY failure (timeout, StreamingQueryException, corrupt chunk):
        # stop the query and unregister the partial complete-mode snapshot
        # so it can never reach the oracle via a later spark.table(qname)
        if q is not None:
            try:
                q.stop()
            finally:
                spark.catalog.dropTempView(qname)
        raise
    finally:
        # the complete-mode memory sink holds the result in driver memory;
        # the staged parquet replay files are no longer referenced
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.table(qname)


def _q_stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_hourly: watermarked tumbling-window counts
    over the chronological replay must equal the batch aggregation.

    The value-exact float compare is safe against the stream's different
    accumulation order: event values are 2-dp, so every group's true sum is
    a multiple of 0.01 — ROUND(sum, 3) sits 0.005 from the nearest rounding
    boundary (measured min distance 0.4999... in 3rd-decimal units at
    sf0.01) while cross-order double error is ~1e-10 absolute."""
    from stac_to_geocore_spark.streaming.events import windowed_event_counts

    return _replay_events_complete(spark, sf_dir, windowed_event_counts, "hourly")


def _q_stream_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of events_sessions: F.session_window sessionization
    over the replay, rolled up per user, must equal the batch lag()-based
    sessionization (the gap semantics agree off the exact-1800 s boundary,
    and the fixture has no exact-1800 s gaps)."""
    from stac_to_geocore_spark.streaming.events import sessionize_stream

    per_session = _replay_events_complete(spark, sf_dir, sessionize_stream, "sessions")
    return per_session.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
    )


def _q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_to_geocore_spark.cells.tiles import tile_x_expr, tile_y_expr

    pts = _points_df(spark, sf_dir)
    return pts.select(
        "point_id",
        tile_x_expr(F.col("lon"), 12).alias("tile_x"),
        tile_y_expr(F.col("lat"), 12).alias("tile_y"),
    )


def _q_pip_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_to_geocore_spark.fixtures import boxes_df
    from stac_to_geocore_spark.spatial.pip import pip_join

    pts = _points_df(spark, sf_dir)
    polys = boxes_df(spark, _fixture_polygons_pdf())
    return pip_join(pts, polys, point_id="point_id").select("point_id", "poly_id")


def _q_cover_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface: covers generated by a LATERAL SQL table function
    (spatial/cover.register_cover_udtf) over the fixture polygons."""
    from stac_to_geocore_spark.spatial.cover import register_cover_udtf

    register_cover_udtf(spark)
    polys = ", ".join(
        f"('{r.poly_id}', CAST({r.west!r} AS DOUBLE), CAST({r.south!r} AS DOUBLE), "
        f"CAST({r.east!r} AS DOUBLE), CAST({r.north!r} AS DOUBLE))"
        for r in _fixture_polygons_pdf().itertuples(index=False)
    )
    return spark.sql(
        f"""
        SELECT p.poly_id, COUNT(*) AS n_cells,
               SUM(CASE WHEN c.fully_inside THEN 1 ELSE 0 END) AS n_full
        FROM VALUES {polys} AS p(poly_id, west, south, east, north),
             LATERAL cover_cells(p.west, p.south, p.east, p.north, 6) c
        GROUP BY p.poly_id
        """
    )


def _q_bbox_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region-region spatial join (spatial/overlap.py): fixture polygons
    self-joined for bbox intersection via shared cell covers; oracle is the
    brute-force pairwise intersection predicate."""
    from stac_to_geocore_spark.fixtures import boxes_df
    from stac_to_geocore_spark.spatial.overlap import bbox_overlap_join

    polys = boxes_df(spark, _fixture_polygons_pdf())
    return bbox_overlap_join(polys, polys).filter(F.col("id_a") < F.col("id_b"))


def _orders_bbox_polys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """>DRIVER_DIM_MAX synthetic bboxes derived from the orders table by
    integer column math (expressible identically in DuckDB, so the brute
    pairwise oracle regenerates the same table) — forces bbox_overlap_join
    down its DISTRIBUTED path (both sides too big to broadcast)."""
    o = _t(spark, sf_dir, "orders")
    # QUADRATIC scatter (m*m + c*m mod 1e6), not the linear k*c mod 1e6 the
    # point fixtures use: sf0.01 orderkeys are CONSECUTIVE, and a linear
    # multiplicative scatter of consecutive keys is a low-discrepancy
    # lattice whose points are never closer than ~0.4 deg — zero overlap
    # pairs, a vacuous join. Squaring the permuted value breaks the lattice
    # and the pair count behaves like a uniform scatter (~10^3 at sf0.01).
    # o_orderkey is reduced mod 1e6 BEFORE the Knuth multiply: the raw
    # product overflows int64 once orderkeys exceed ~3.5e9 (TPC-H sf >~580),
    # where Spark (non-ANSI) wraps silently but DuckDB raises — the fixture
    # and oracle would diverge exactly on the 100x-scale path this query
    # exercises. The reduction is a no-op at any sf where keys < 1e6, and
    # identical on both sides above it.
    m1 = ((F.col("o_orderkey") % F.lit(1000000)) * F.lit(2654435761)) % F.lit(1000000)
    m2 = (F.col("o_orderkey") * F.lit(40503) + F.lit(971)) % F.lit(1000000)
    lon = F.lit(-140.0) + ((m1 * m1 + F.lit(7) * m1) % F.lit(1000000)) / F.lit(1000000.0) * F.lit(86.0)
    lat = F.lit(42.0) + ((m2 * m2 + F.lit(13) * m2) % F.lit(1000000)) / F.lit(1000000.0) * F.lit(40.0)
    dx = F.lit(0.02) + (F.col("o_orderkey") % F.lit(5)).cast("double") * F.lit(0.01)
    dy = F.lit(0.02) + (F.col("o_orderkey") % F.lit(7)).cast("double") * F.lit(0.005)
    return o.select(
        F.concat(F.lit("o"), F.col("o_orderkey").cast("string")).alias("poly_id"),
        (lon - dx).alias("west"), (lat - dy).alias("south"),
        (lon + dx).alias("east"), (lat + dy).alias("north"),
    )


def _q_bbox_overlap_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100x-scale path of the region join (round-3 VERDICT #6): both
    sides exceed DRIVER_DIM_MAX (15k orders-derived bboxes at sf0.01), so
    each side's grid cells are exploded distributed (spatial/grid.py
    box_cells) and the join is a sort-merge (gx, gy) equi-join with no
    broadcast of either side — the plan a regression in the distributed
    grid path now moves both a committed bench number and this
    oracle-checked row."""
    from stac_to_geocore_spark.spatial.overlap import bbox_overlap_join

    polys = _orders_bbox_polys(spark, sf_dir)
    return bbox_overlap_join(polys, polys).filter(F.col("id_a") < F.col("id_b"))


def _q_cell_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-res rollup on the true aperture-7 hierarchy: count per res-7
    cell once, then re-key to the res-5 ancestor with exact lattice-parent
    math (cells/h3x.h3_parent) — at scale the fine agg is materialized once
    and any coarser res is a map-side re-key, never a raw re-scan."""
    from stac_to_geocore_spark.cells.h3x import h3_encode, h3_parent

    pts = _points_df(spark, sf_dir)
    fine = (
        pts.withColumn("cell7", h3_encode(F.col("lat"), F.col("lon"), 7))
        .groupBy("cell7")
        .agg(F.count(F.lit(1)).alias("n7"))
    )
    return (
        fine.withColumn("cell5", h3_parent(F.col("cell7"), 5))
        .groupBy("cell5")
        .agg(F.sum("n7").alias("n"), F.count(F.lit(1)).alias("n_children"))
    )


def _q_pip_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General-polygon PIP: cell-cover filter + exact vectorized ray-cast
    refine on non-convex star rings (spatial/pip.pip_ring_join)."""
    from stac_to_geocore_spark.spatial.pip import pip_ring_join

    rings = local_df(
        spark, _ring_polys(), "poly_id string, ring_lon array<double>, ring_lat array<double>"
    )
    return pip_ring_join(_points_df(spark, sf_dir), rings)


def _q_pip_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew path of the PIP join: forced shuffle join with salted cell
    keys (salt_factor=4) — must produce the identical assignment set as the
    broadcast path, checked against the same SQL containment oracle."""
    from stac_to_geocore_spark.fixtures import boxes_df
    from stac_to_geocore_spark.spatial.pip import pip_join

    polys = boxes_df(spark, _fixture_polygons_pdf())
    pts = _points_df(spark, sf_dir)
    return pip_join(
        pts, polys, point_id="point_id", broadcast_covers=False, salt_factor=4
    ).select("point_id", "poly_id")


def _q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from stac_to_geocore_spark.spatial.knn import knn_join

    pts = _points_df(spark, sf_dir)
    queries = pd.DataFrame(_KNN_QUERIES, columns=["query_id", "lon", "lat"])
    return knn_join(pts, queries, k=10, point_id="point_id").select("query_id", "point_id", "rank")


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keeper_doc_id"))
    )


def _q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars_computed"),
        F.size(words).alias("n_tokens"),
        F.round(F.length("text") / F.size(words), 4).alias("avg_token_len"),
    )


def _q_stopword_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # language/quality signal expressible identically in both engines:
    # occurrence counts of common-word patterns via length-difference trick.
    # Three full replace() passes over every text are the heaviest JVM
    # string stage in the suite; the documents table is a single row group,
    # so without fan_out they all run on one core (measured 0.66 s -> 0.38 s
    # at sf1.0; fan_out is a no-op on a many-split scan at scale)
    from stac_to_geocore_spark.partitioning import fan_out

    d = fan_out(_t(spark, sf_dir, "documents").select("doc_id", "text"))

    def occ(pat: str):
        return (F.length("text") - F.length(F.replace(F.col("text"), F.lit(pat)))) / len(pat)

    return d.select(
        "doc_id",
        occ(" the ").cast("long").alias("n_the"),
        occ(" a ").cast("long").alias("n_a"),
        occ(" value ").cast("long").alias("n_value"),
    )


def _q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_to_geocore_spark.ann import brute_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    return brute_topk(emb, q, k=10)


def _q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q4 shape: EXISTS -> left-semi join with a non-equi condition
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        o.join(li, (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def _q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07) & (F.col("l_quantity") < 24)
    ).agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))


def _q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation"))
    n2 = _t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == n1.sk)
        .join(F.broadcast(n2), c.c_nationkey == n2.ck)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        # exact integer-cent arithmetic: price and discount are 2dp, so the
        # scaled product is an exact int64 and the sum is order-independent
        # (float sums here land on .xx5 rounding boundaries and flip vs DuckDB)
        .agg(
            (
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("long")
                    * F.round((1 - F.col("l_discount")) * 100).cast("long")
                ) / F.lit(10000.0)
            ).alias("revenue")
        )
    )


def _q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def _q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.sum(F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(0.0)) * 100.0 / F.sum(rev), 4
            ).alias("promo_share_pct")
        )
    )


def _q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def _q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .select("o_orderkey", "o_custkey", F.round("total_qty", 2).alias("total_qty"))
    )


def _q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(p, li.l_partkey == p.p_partkey)
    pred = (
        ((F.col("p_size") <= 5) & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 30))
        | ((F.col("p_size") <= 15) & (F.col("l_quantity") >= 20) & (F.col("l_quantity") <= 40))
        | (F.col("p_brand") == "Brand#1")
    )
    return j.filter(pred).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def _q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share of STANDARD parts sold into the
    AMERICA region, by order year. Volumes are exact cent^2 int64 products so
    the share division is identical int/int in both engines."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    n1 = _t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("ck"), F.col("n_regionkey").alias("crk"))
    n2 = _t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation"))
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    vol = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * F.round((1 - F.col("l_discount")) * 100).cast("long")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), c.c_nationkey == n1.ck)
        .join(F.broadcast(n2), s.s_nationkey == n2.sk)
        .join(F.broadcast(r), n1.crk == r.r_regionkey)
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0))).alias("_n"),
            F.sum(vol).alias("_d"),
        )
        # integer-exact half-up of n*1e6/d in two 1000x steps (n*1e6 would
        # overflow int64; each step's intermediates stay < 2^57) — float
        # division + ROUND can differ 1ulp between engines at the 6th dp
        .select(
            "o_year",
            (
                F.expr("_n * 1000 div _d") * F.lit(1000)
                + F.expr("((_n * 1000 % _d) * 2000 + _d) div (2 * _d)")
            ).cast("long").alias("mkt_share_e6"),
        )
    )


def _q13_custdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: customer order-count distribution (left outer join so
    zero-order customers count as c_count = 0)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def _q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: top revenue supplier(s) in 1996Q1 — revenue view + scalar
    MAX subquery, ties kept; exact cent^2 int64 revenue."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    s = _t(spark, sf_dir, "supplier")
    vol = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * F.round((1 - F.col("l_discount")) * 100).cast("long")
    )
    rev = li.groupBy("l_suppkey").agg(F.sum(vol).alias("total_c2"))
    mx = rev.agg(F.max("total_c2").alias("mx"))
    return (
        rev.join(F.broadcast(mx), rev.total_c2 == mx.mx)
        .join(s, rev.l_suppkey == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_c2")
    )


def _q21_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted to the available columns: late = shipped
    more than 60 days after the order date): for finished multi-supplier
    orders, count per supplier the orders where it was the ONLY late
    shipper — semi + anti correlated subqueries as left_semi/left_anti."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem")
    l = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_suppkey",
        (F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 60 DAYS")).alias("late"),
    )
    multi = (
        l.groupBy("l_orderkey")
        .agg(F.count_distinct("l_suppkey").alias("ns"))
        .filter(F.col("ns") > 1)
        .select("l_orderkey")
    )
    late = l.filter("late").select("l_orderkey", "l_suppkey").distinct()
    other_late = late.select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("other_sk")
    )
    only_late = (
        late.join(multi, "l_orderkey", "left_semi")
        .join(
            other_late,
            (F.col("l_orderkey") == F.col("ok")) & (F.col("l_suppkey") != F.col("other_sk")),
            "left_anti",
        )
    )
    s = _t(spark, sf_dir, "supplier")
    return (
        only_late.join(s, only_late.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


def _q22_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (adapted: country code := c_custkey % 10, dormant :=
    no orders on/after 1999-01-01): positive-balance customers above the
    segment average with no recent orders, grouped by code. The average
    comparison is exact integer cross-multiplication (bal*n > sum)."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_custkey") % 10).alias("code"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_c"),
    )
    pos = c.filter(F.col("bal_c") > 0)
    stats = pos.agg(F.sum("bal_c").alias("s"), F.count(F.lit(1)).alias("n"))
    recent = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "1999-01-01")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    eligible = (
        c.crossJoin(F.broadcast(stats))
        .filter(F.col("bal_c") * F.col("n") > F.col("s"))
        .join(recent, "c_custkey", "left_anti")
    )
    return eligible.groupBy("code").agg(
        F.count(F.lit(1)).alias("numcust"), F.sum("bal_c").alias("totbal_c")
    )


def _q_rollup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("linestatus"),
            "n", "sum_qty",
        )
    )


def _q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


def _q_cube_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("total_cents"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            "n", "total_cents",
        )
    )


def _q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    # TPC-H Q17 shape: correlated scalar subquery (below 20% of per-part avg
    # quantity). The predicate qty < 0.2*avg(qty) is rewritten exactly in
    # integers: 5*qty*count < sum  (quantities are integral) — FP-free.
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(F.col("l_quantity").cast("long")).alias("qty_sum"),
        F.count(F.lit(1)).alias("qty_cnt"),
    )
    return (
        li.join(F.broadcast(per_part), li.l_partkey == F.col("pk"))
        .filter(F.lit(5) * F.col("l_quantity").cast("long") * F.col("qty_cnt") < F.col("qty_sum"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice")) / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def _q_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-cell exact median (the UDAF-shaped
    escape hatch for non-SQL aggregates). Stats are integer-exact
    (microdegree scaling, median reported x2 so even-count midpoints stay
    integral) so the SQL oracle hash-matches bit-for-bit."""
    import numpy as np
    import pandas as pd

    pts = _points_df(spark, sf_dir).withColumn(
        "cell",
        (F.floor((F.col("lon") + 180.0) / 10.0) * F.lit(100)
         + F.floor((F.col("lat") + 90.0) / 10.0)).cast("long"),
    )

    def stats(pdf: pd.DataFrame) -> pd.DataFrame:
        lat_e6 = np.rint(pdf["lat"].to_numpy() * 1e6).astype(np.int64)
        lon_e6 = np.rint(pdf["lon"].to_numpy() * 1e6).astype(np.int64)
        s = np.sort(lat_e6)
        n, mid = len(s), len(s) // 2
        med2 = int(s[mid - 1] + s[mid]) if n % 2 == 0 else int(2 * s[mid])
        return pd.DataFrame(
            {
                "cell": [int(pdf["cell"].iloc[0])],
                "n": [n],
                "lat_min_e6": [int(lat_e6.min())],
                "lat_max_e6": [int(lat_e6.max())],
                "lat_med_e6_x2": [med2],
                "lon_sum_e6": [int(lon_e6.sum())],
            }
        )

    return pts.groupBy("cell").applyInPandas(
        stats,
        "cell long, n long, lat_min_e6 long, lat_max_e6 long, lat_med_e6_x2 long, lon_sum_e6 long",
    )


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_to_geocore_spark.relational import asof_join

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = _t(spark, sf_dir, "orders")
    return asof_join(
        e, o, left_key="user_id", right_key="o_custkey",
        left_ts=F.col("ts"), right_ts=F.col("o_orderdate"), right_id="o_orderkey",
    ).select("event_id", "user_id", "asof_o_orderkey", "asof_ts_epoch")


def _q_asof_join_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The non-broadcast as-of plan (tag-union + running-max window, one
    narrow shuffle, no join at all) — same semantics, same oracle as the
    broadcast path."""
    from stac_to_geocore_spark.relational import asof_join

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = _t(spark, sf_dir, "orders")
    return asof_join(
        e, o, left_key="user_id", right_key="o_custkey",
        left_ts=F.col("ts"), right_ts=F.col("o_orderdate"), right_id="o_orderkey",
        broadcast_right=False,
    ).select("event_id", "user_id", "asof_o_orderkey", "asof_ts_epoch")


def _q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join (relational.range_join): events falling
    inside 6-hour windows opened by a sampled subset of events. Bucketed
    equi-join (1-hour buckets) + exact refine, vs the plain non-equi join
    in SQL."""
    from stac_to_geocore_spark.relational import range_join

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    iv = (
        e.filter(F.col("event_id") % 199 == 0)
        .select(
            F.col("event_id").alias("window_id"),
            F.col("ts").alias("win_start"),
            F.expr("ts + INTERVAL 6 HOURS").alias("win_end"),
        )
    )
    out = range_join(e, iv, F.col("ts"), F.col("win_start"), F.col("win_end"),
                     bucket_seconds=3600)
    return out.select("event_id", "window_id")


def _q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.select("event_type", F.get_json_object("props", "$.k").cast("long").alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def _q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey").rowsBetween(-2, 0)
    # exact integer math end-to-end: cents sums are exact, and the half-up
    # rounding happens in int64 (Spark HALF_UP vs DuckDB rounding differ on
    # exact .5 landings, which cent-averages over 1-3 rows hit constantly);
    # output is the 2dp average scaled x100 (integer cents)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    s = F.sum(cents).over(w)
    n = F.count(F.lit(1)).over(w)
    return o.select(
        "o_orderkey", "o_custkey",
        F.floor((F.lit(2) * s + n) / (F.lit(2) * n)).cast("long").alias("mov_avg_cents"),
    )


def _q_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id", "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("delta_prev"),
        F.lead("event_type").over(w).alias("next_type"),
    )


def _q_dense_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return c.select(
        "c_custkey", "c_mktsegment",
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


def _q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE byte-pair encoding under the frozen committed merge table
    (text/bpe_vocab.py) — upgraded round 4 from the regex approximation,
    which remains available as token_count_regex (extras, live SQL oracle).
    BPE's order-dependent iterative merge loop is not relational, so the
    oracle is a frozen known-answer literal; the algorithm itself is
    anchored by tests/test_bpe.py's independent naive implementation."""
    from stac_to_geocore_spark.text.bpe import bpe_token_counts

    return bpe_token_counts(_t(spark, sf_dir, "documents"))


def _q_token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_to_geocore_spark.text.analysis import bpe_ish_token_count

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", bpe_ish_token_count(F.col("text")).cast("long").alias("n_bpe_tokens"))


def _q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_to_geocore_spark.text.analysis import quality_score

    d = _t(spark, sf_dir, "documents")
    return quality_score(d).select(
        "doc_id", "n_chars", "n_tokens", "avg_token_len", "alpha_ratio",
        "digit_ratio", "punct_ratio", "uniq_token_ratio", "quality",
    )


def _q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_to_geocore_spark.text.analysis import langid

    d = _t(spark, sf_dir, "documents")
    return langid(d).groupBy("lang", "lang_pred").agg(F.count(F.lit(1)).alias("n"))


def _q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_to_geocore_spark.text.dedup import minhash_lsh_pairs

    d = _t(spark, sf_dir, "documents")
    # explicit hot-band cap = the 100 TB configuration (opt-in since round 3;
    # no sf bucket comes near 1024 docs, so output is unchanged)
    return minhash_lsh_pairs(d, threshold=0.5, max_band_size=1024)


def _q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_to_geocore_spark.text.dedup import simhash64

    d = _t(spark, sf_dir, "documents")
    return simhash64(d).select("doc_id", "simhash")


def _q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_to_geocore_spark.text.analysis import doc_fingerprint

    d = _t(spark, sf_dir, "documents")
    return doc_fingerprint(d).select(
        "doc_id", F.size("fingerprint").alias("n_fp"), F.hash("fingerprint").alias("fp_hash")
    )


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-filtered exact n-gram Jaccard vs a brute-force all-pairs DuckDB
    oracle. The hash check is sound because every >=0.4 pair in the synthetic
    corpus is a strong near-dup (J >= 0.9), where 16-band/4-row MinHash
    recall is ~1-4e-8 per pair (and deterministic under the fixed seed) —
    so filter-and-verify returns exactly the brute-force set."""
    from stac_to_geocore_spark.text.dedup import ngram_jaccard_pairs

    d = _t(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(d, threshold=0.4)


def _q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: LSH near-dup pairs -> connected components (min-
    label propagation, text/components.py) -> canonical keeper per cluster.
    Oracle: the same pair set brute-forced in SQL, closed transitively with
    a recursive CTE."""
    from stac_to_geocore_spark.text.components import dedup_keepers
    from stac_to_geocore_spark.text.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.4)
    return dedup_keepers(pairs).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("component"), "keep"
    )


def _q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation over documents: quality scoring ->
    threshold filter -> exact-dedup keeper selection (min doc_id per md5) ->
    per-language corpus stats. The composition a 100 TB text pipeline runs
    before tokenization, as ONE declarative plan."""
    from stac_to_geocore_spark.text.analysis import quality_score

    d = _t(spark, sf_dir, "documents")
    scored = quality_score(d).select("doc_id", "lang", "text", "quality")
    kept = (
        scored.filter(F.col("quality") >= 0.3)
        .withColumn("text_hash", F.md5("text"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("text_hash").orderBy(F.asc("doc_id"))
            ),
        )
        .filter(F.col("rn") == 1)
    )
    # quality is 4dp-rounded; scale to e4 ints so the sum is exact and
    # order-independent (float sums hash-mismatch across engines)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.sum(F.round(F.col("quality") * 10000).cast("long")).alias("sum_quality_e4"),
    )


def _q_hamming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pigeonhole-banded Hamming near-dup (text/dedup.hamming_near_dup_pairs):
    EXACT for hamming <= bands-1, no probabilistic recall. Fingerprints are
    derived from doc_id with integer arithmetic both engines share, and 5
    planted rows sit at hamming 2 (xor 0b101); the oracle brute-forces all
    pairs with bit_count(xor)."""
    from stac_to_geocore_spark.text.dedup import hamming_near_dup_pairs

    base = _t(spark, sf_dir, "documents").select(
        "doc_id",
        (((F.col("doc_id") * 2654435761) % 2147483648) * 4294967296)
        .bitwiseXOR((F.col("doc_id") * 40503 + 12345) % 4294967296)
        .alias("phash"),
    )
    planted = base.filter(F.col("doc_id") % 100 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.col("phash").bitwiseXOR(F.lit(5)).alias("phash"),
    )
    return hamming_near_dup_pairs(base.unionByName(planted), hash_col="phash", max_hamming=3)


def _q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_to_geocore_spark.ann import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    return lsh_topk(emb, q, k=10, dim=64, n_tables=12, n_planes=4)


def _q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n_probe=8 of 16 centroids: the sf embeddings are near-random
    (FIXTURES.md — top-10 cosine ~0.3), the adversarial regime where IVF's
    recall/cost curve is at its worst; half-probe lands overlap@10 of
    5/7/9 per query (frozen in ann_recall) vs 3/7/6 at n_probe=6. On
    clustered real-world embeddings the same index needs far fewer probes
    — the pytest recall floor covers that regime separately."""
    from stac_to_geocore_spark.ann import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    return ivf_topk(emb, q, k=10, dim=64, n_centroids=16, n_probe=8)


def _q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall as a GATE signal (round-3 VERDICT #7): per-(method, query)
    overlap@10 between each approximate index (LSH multi-probe, IVF) and the
    exact brute-force top-10. The frozen oracle literal pins today's recall;
    any regression in bucketing/probing changes an overlap count and
    hash-fails the gate — recall is no longer guarded only by pytest floors.
    Queries with ZERO overlap still emit a row (left join + coalesce), so a
    total recall collapse cannot hide as a missing row.

    The brute top-k is executed ONCE and materialized driver-side (Q*k =
    30 rows — the query set is dim by construction), then rejoined as a
    broadcast local table: embedding the brute subtree in each method's
    join would re-run the full-corpus exact scan three times per gate
    evaluation."""
    brute_rows = _q_ann_topk(spark, sf_dir).select("query_id", "vec_id").collect()
    brute = F.broadcast(
        local_df(spark, [(r.query_id, r.vec_id) for r in brute_rows], "query_id bigint, vec_id bigint")
    )
    spine = sorted({r.query_id for r in brute_rows})
    methods = {"lsh": _q_ann_lsh, "ivf": _q_ann_ivf}
    outs = []
    for m, fn in methods.items():
        approx = fn(spark, sf_dir).select("query_id", "vec_id")
        counts = (
            approx.join(brute, ["query_id", "vec_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).alias("_n"))
        )
        outs.append(
            local_df(spark, [(q,) for q in spine], "query_id bigint")
            .join(counts, "query_id", "left")
            .select(
                F.lit(m).alias("method"),
                "query_id",
                F.coalesce(F.col("_n"), F.lit(0)).cast("int").alias("overlap_at_10"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _q_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode over real WAV bytes (round-3 VERDICT #4): the
    fixture synthesizes RIFF/WAV clips (8/16-bit PCM, mono/stereo, 8/16 kHz)
    with stdlib `wave`; audio_features parses them back with the same stdlib
    parser and computes rate/length/duration/rms/peak/zero-crossings in
    numpy. Deterministic -> frozen known-answer oracle."""
    from stac_to_geocore_spark.fixtures import audio_df
    from stac_to_geocore_spark.images.multimodal import audio_features

    return audio_features(audio_df(spark, 60, partitions=8))


def _q_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup detection with planted near-dups: sf embeddings are
    near-random (no true pairs >= 0.9 cosine), so 5 perturbed copies
    (x*1.01 + 0.001, cosine ~0.9999) are planted to make the check
    non-vacuous. The oracle brute-forces all pairs; LSH must find them all."""
    from stac_to_geocore_spark.ann import embedding_dedup_pairs

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    planted = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.01 + 0.001).alias("embedding"),
    )
    return embedding_dedup_pairs(emb.unionByName(planted), threshold=0.9)


def _q_csv_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4 (Export-to-csv.py): parquet -> csv -> read back typed. The oracle
    reads the same parquet directly, so the hash check proves the export
    loses nothing."""
    import shutil
    import tempfile

    from stac_to_geocore_spark.sources.sinks import export_csv

    out = tempfile.mkdtemp(prefix="csv_gate_")
    try:
        export_csv(spark, f"{sf_dir}/nation.parquet", out)
        back = (
            spark.read.option("header", True).csv(out)
            .select(
                F.col("n_nationkey").cast("long").alias("n_nationkey"),
                "n_name",
                F.col("n_regionkey").cast("long").alias("n_regionkey"),
            )
        )
        rows = back.collect()  # tiny dim; materialize before the dir vanishes
        return local_df(spark, rows, back.schema)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _q_harvest_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full reference job through the gate: harvest (fake STAC API) ->
    translate root/collections/items -> delete-prev -> per-record puts ->
    executor-side manifest (job.run_harvest, SURVEY §3.1). Returns one row
    per stored object (key + md5) plus the manifest row — deterministic
    byte contract, rows-only (json md5 is not ANSI-SQL-expressible)."""
    import hashlib
    import shutil
    import tempfile

    from stac_to_geocore_spark.fixtures import API_ROOT, make_fake_stac_fetch
    from stac_to_geocore_spark.job import run_harvest
    from stac_to_geocore_spark.sources.sinks import LocalObjectStore

    store_root = tempfile.mkdtemp(prefix="harvest_gate_")
    try:
        run_harvest(spark, API_ROOT, store_root, fetch=make_fake_stac_fetch(n_items=60))
        store = LocalObjectStore(store_root)
        rows = []
        for key in store.list():
            text = store.get(key)
            rows.append((key, len(text), hashlib.md5(text.encode("utf-8")).hexdigest()))
        return local_df(spark, rows, "key string, n_bytes long, md5 string")
    finally:
        shutil.rmtree(store_root, ignore_errors=True)


def _q_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style snapshot commits + time travel (tables/snapshots.py):
    v1 = documents ids, v2 = append of ids+10000; both versions read back
    and aggregated — the oracle derives the same two versions from the
    documents table directly, so the check is value-exact."""
    import shutil
    import tempfile

    from stac_to_geocore_spark.tables.snapshots import SnapshotTable

    d = _t(spark, sf_dir, "documents").select("doc_id")
    root = tempfile.mkdtemp(prefix="snap_gate_")
    try:
        t = SnapshotTable(root)
        t.append(d)
        t.append(d.select((F.col("doc_id") + 10000).alias("doc_id")))
        rows = []
        for v in (1, 2):
            agg = t.read(spark, version=v).agg(
                F.count(F.lit(1)).alias("n_rows"), F.sum("doc_id").alias("sum_id")
            ).collect()[0]
            rows.append((v, agg["n_rows"], agg["sum_id"]))
        return local_df(spark, rows, "version int, n_rows long, sum_id long")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _q_stac_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAC as a Spark Python Data Source (sources/stac_source.py): page
    walk = partition planning, one InputPartition per non-empty /search
    page, typed rows without schema inference. Covers SURVEY §2 S1-S3
    through the gate (driven by the deterministic in-process fake API)."""
    from stac_to_geocore_spark.sources.stac_source import StacDataSource

    spark.dataSource.register(StacDataSource)
    from stac_to_geocore_spark.fixtures import API_ROOT

    df = (
        spark.read.format("stac")
        .option("api_root", API_ROOT)
        .option("fetch", "stac_to_geocore_spark.fixtures:fake_fetch_factory")
        .option("n_items", "95")
        .load()
    )
    return df.select(
        "id", "collection",
        F.size("links").alias("n_links"), F.size(F.map_keys("assets")).alias("n_assets"),
        F.col("properties.datetime").alias("item_datetime"),
    )


def _q_geocore_translate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_to_geocore_spark.compat import translate_items
    from stac_to_geocore_spark.fixtures import stac_collections_fixture, stac_items_df

    return translate_items(stac_items_df(spark, 120), stac_collections_fixture()).select(
        "key", F.length("json").alias("json_len"), F.md5("json").alias("json_md5")
    )


def _q_geocore_collections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection translation (ref app.py:118-135, stac_to_geocore.py:374-454):
    covers SURVEY §2 M2/R2/P2/P5/P6 through the driver gate."""
    from stac_to_geocore_spark.compat import translate_collections
    from stac_to_geocore_spark.fixtures import stac_collections_fixture

    docs = translate_collections(stac_collections_fixture())
    return local_df(spark, docs, "key string, json string").select(
        "key", F.length("json").alias("json_len"), F.md5("json").alias("json_md5")
    )


def _q_geocore_root(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Root-catalog translation (ref app.py:72-116): single driver-side record
    (the reference translates exactly one root per run); covers M1/R1/J4."""
    from stac_to_geocore_spark.compat.translate import translate_root
    from stac_to_geocore_spark.fixtures import stac_collections_fixture, stac_root_fixture

    key, doc = translate_root(stac_root_fixture(), stac_collections_fixture())
    return local_df(spark, [(key, doc)], "key string, json string").select(
        "key", F.length("json").alias("json_len"), F.md5("json").alias("json_md5")
    )


def _q_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_to_geocore_spark.fixtures import images_df
    from stac_to_geocore_spark.images.ops import decode_stats

    return decode_stats(images_df(spark, 300, bytes_mode="full"))


def _q_image_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    from stac_to_geocore_spark.fixtures import images_df
    from stac_to_geocore_spark.images.ops import verify_images

    a = images_df(spark, 200, bytes_mode="full")
    b = images_df(spark, 200, bytes_mode="full")
    return verify_images(a, b).groupBy("pixels_ok", "caption_ok").agg(F.count(F.lit(1)).alias("n"))


# Frozen known-answer vector for the S2 encoder (cells/s2.py): a 7x7
# lat/lon grid at levels 8 and 12, values computed ONCE from
# s2_encode_np and frozen here — the oracle is this literal (not a
# re-run of the implementation), so an encoder regression hash-fails
# the gate. (lat, lon, level, cell)
_S2_KNOWN = [
    (-75.0, -150.0, 8, -6510674540991873024), (-75.0, -150.0, 12, -6510685604827627520),
    (-75.0, -90.0, 8, -4957530803874562048), (-75.0, -90.0, 12, -4957525100157992960),
    (-75.0, -30.0, 8, -5018540505076596736), (-75.0, -30.0, 12, -5018529441240842240),
    (-75.0, 0.0, 8, -5720152068899995648), (-75.0, 0.0, 12, -5720134957750288384),
    (-75.0, 30.0, 8, -5696930383321366528), (-75.0, 30.0, 12, -5696928253017587712),
    (-75.0, 90.0, 8, -5631557819980316672), (-75.0, 90.0, 12, -5631563798574792704),
    (-75.0, 150.0, 8, -5832284662747103232), (-75.0, 150.0, 12, -5832286793050882048),
    (-45.0, -150.0, 8, -6865438564763566080), (-45.0, -150.0, 12, -6865440969945251840),
    (-45.0, -90.0, 8, -7494007372130549760), (-45.0, -90.0, 12, -7493989848663982080),
    (-45.0, -30.0, 8, -4663776481304903680), (-45.0, -30.0, 12, -4663774076123217920),
    (-45.0, 0.0, 8, 2113683561050537984), (-45.0, 0.0, 12, 2113689402206060544),
    (-45.0, 30.0, 8, -5338718291084967936), (-45.0, 30.0, 12, -5338707777005027328),
    (-45.0, 90.0, 8, 2882321353703161856), (-45.0, 90.0, 12, 2882303830236594176),
    (-45.0, 150.0, 8, -6190496754983501824), (-45.0, 150.0, 12, -6190507269063442432),
    (-15.0, -150.0, 8, 8544612722703073280), (-15.0, -150.0, 12, 8544601521428365312),
    (-15.0, -90.0, 8, -8025995078113689600), (-15.0, -90.0, 12, -8025977966963982336),
    (-15.0, -30.0, 8, 486828564407123968), (-15.0, -30.0, 12, 486815988742881280),
    (-15.0, 0.0, 8, 1959998223766519808), (-15.0, 0.0, 12, 1960003927483088896),
    (-15.0, 30.0, 8, 1819014444806569984), (-15.0, 30.0, 12, 1819027020470812672),
    (-15.0, 90.0, 8, 3414309059686301696), (-15.0, 90.0, 12, 3414291948536594432),
    (-15.0, 150.0, 8, 7596288341792784384), (-15.0, 150.0, 12, 7596299543067492352),
    (0.0, -150.0, 8, 8602420646045024256), (0.0, -150.0, 12, 8602435420732522496),
    (0.0, -90.0, 8, -8070432940061884416), (0.0, -90.0, 12, -8070450463528452096),
    (0.0, -30.0, 8, 620951390809751552), (0.0, -30.0, 12, 620936616122253312),
    (0.0, 0.0, 8, 1152939096792891392), (0.0, 0.0, 12, 1152921573326323712),
    (0.0, 30.0, 8, 1684891618403942400), (0.0, 30.0, 12, 1684906393091440640),
    (0.0, 90.0, 8, 3458782106006585344), (0.0, 90.0, 12, 3458764582540017664),
    (0.0, 150.0, 8, 7538480418450833408), (0.0, 150.0, 12, 7538465643763335168),
    (15.0, -150.0, 8, 8736543472447651840), (15.0, -150.0, 12, 8736556048111894528),
    (15.0, -90.0, 8, -8114905986382168064), (15.0, -90.0, 12, -8114923097531875328),
    (15.0, -30.0, 8, 678759314151702528), (15.0, -30.0, 12, 678770515426410496),
    (15.0, 0.0, 8, 1285971207660765184), (15.0, 0.0, 12, 1285965229066289152),
    (15.0, 30.0, 8, 1627083695061991424), (15.0, 30.0, 12, 1627072493787283456),
    (15.0, 90.0, 8, 3503219967954780160), (15.0, 90.0, 12, 3503237079104487424),
    (15.0, 150.0, 8, 7404357592048205824), (15.0, 150.0, 12, 7404345016383963136),
    (45.0, -150.0, 8, 6190496754983501824), (45.0, -150.0, 12, 6190507269063442432),
    (45.0, -90.0, 8, -8646893692365307904), (45.0, -90.0, 12, -8646911215831875584),
    (45.0, -30.0, 8, 5338718291084967936), (45.0, -30.0, 12, 5338707777005027328),
    (45.0, 0.0, 8, 1345080952770002944), (45.0, 0.0, 12, 1345075111614480384),
    (45.0, 30.0, 8, 4663776481304903680), (45.0, 30.0, 12, 4663774076123217920),
    (45.0, 90.0, 8, 4035207673937920000), (45.0, 90.0, 12, 4035225197404487680),
    (45.0, 150.0, 8, 6865438564763566080), (45.0, 150.0, 12, 6865440969945251840),
    (75.0, -150.0, 8, 5832284662747103232), (75.0, -150.0, 12, 5832286793050882048),
    (75.0, -90.0, 8, 5897657226088153088), (75.0, -90.0, 12, 5897651247493677056),
    (75.0, -30.0, 8, 5696930383321366528), (75.0, -30.0, 12, 5696928253017587712),
    (75.0, 0.0, 8, 5720152068899995648), (75.0, 0.0, 12, 5720134957750288384),
    (75.0, 30.0, 8, 5018540505076596736), (75.0, 30.0, 12, 5018529441240842240),
    (75.0, 90.0, 8, 6571684242193907712), (75.0, 90.0, 12, 6571689945910476800),
    (75.0, 150.0, 8, 6510674540991873024), (75.0, 150.0, 12, 6510685604827627520),
]


def _q_s2_known_answer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 encoder known-answer vector (cells/s2.py:100): encode a fixed
    7x7 grid at levels 8 and 12 and hash-compare against the frozen
    expected cell ids (_S2_KNOWN) served to DuckDB as a VALUES literal —
    the last SURVEY §2.10 operator without its own gate entry."""
    from stac_to_geocore_spark.cells.s2 import s2_encode

    grid = local_df(
        spark, [(la, lo) for la, lo, lvl, _ in _S2_KNOWN if lvl == 8], "lat double, lon double"
    )
    parts = [
        grid.select(
            "lat", "lon", F.lit(lvl).alias("level"),
            s2_encode(F.col("lat"), F.col("lon"), lvl).alias("cell"),
        )
        for lvl in (8, 12)
    ]
    return parts[0].unionAll(parts[1])


def _q_lineage_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kill/resume lineage through the gate (tables/lineage.py:47, the
    north_rule's resumability clause): write a cell-partitioned table,
    inject a failure after the first commit batch, resume under a new
    run id, and return the manifest — run_id proves partitions committed
    before the kill were NOT recomputed by the resume; checksum is the
    JVM-side order-independent xxhash64 XOR."""
    import shutil
    import tempfile

    from stac_to_geocore_spark.tables.lineage import LineageWriter, read_manifest

    pts = _points_df(spark, sf_dir).withColumn(
        "cell_p5", F.pmod(F.col("point_id"), F.lit(8)).cast("int")
    )
    tmp = tempfile.mkdtemp(prefix="lineage_gate_")
    try:
        w = LineageWriter(tmp, partition_col="cell_p5")
        try:
            w.write(pts, run_id="run1", batch_size=3, fail_after_batches=1)
        except RuntimeError:
            pass  # the injected kill
        assert len(w.completed_partitions()) == 3  # first batch survived
        w.write(pts, run_id="run2", batch_size=3)
        rows = [
            (m["partition"], m["row_count"], m["checksum"], m["run_id"])
            for m in read_manifest(tmp)
        ]
        return local_df(spark, rows, "partition string, row_count long, checksum long, run_id string")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _q_sql_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure-SQL spatial surface (sql_functions.register_spatial_sql):
    h3_encode / h3_parent / s2_encode called FROM SQL over the fixed 7x7
    known-answer grid — proves a SQL-only user gets the same cells as the
    column API (which the frozen oracle pins)."""
    from stac_to_geocore_spark.sql_functions import register_spatial_sql

    register_spatial_sql(spark)
    grid = local_df(
        spark, [(la, lo) for la, lo, lvl, _ in _S2_KNOWN if lvl == 8], "lat double, lon double"
    )
    grid.createOrReplaceTempView("_sqlsurface_grid")
    return spark.sql(
        """
        SELECT lat, lon,
               h3_encode(lat, lon, 7)               AS h3_r7,
               h3_parent(h3_encode(lat, lon, 7), 5) AS cell_p5,
               s2_encode(lat, lon, 12)              AS s2_l12
        FROM _sqlsurface_grid
        """
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Driver-gate entries, HARD-CAPPED at 50 (the driver records CORRECTNESS
    rows for the first 50 dict positions only — rounds 1-2 registered 65 and
    the flagship compat layer landed past the window with no recorded row).
    Order: reference-compat layer first, then the spatial/relational engine,
    then the LLM-data-pipeline suite, then REPRESENTATIVE TPC-H/window
    queries (q1/q5/q8 + one entry per windowing feature). The remaining
    TPC-H/window variants moved to extra_queries() — still contract-shaped,
    still oracle-checked by tests/test_oracle_parity.py and
    scripts/verify_contract.py, just not competing for gate slots."""
    q = {
        # --- reference compat layer (app.py:36-170, stac_to_geocore.py) ---
        "geocore_translate": _q_geocore_translate,
        "geocore_collections": _q_geocore_collections,
        "geocore_root": _q_geocore_root,
        "harvest_sink_job": _q_harvest_sink,
        "stac_source_scan": _q_stac_source,
        "csv_export_roundtrip": _q_csv_export_roundtrip,
        "snapshot_time_travel": _q_snapshot_time_travel,
        "lineage_resume": _q_lineage_resume,
        "image_verify": _q_image_verify,
        "image_decode_stats": _q_image_decode,
        "audio_stats": _q_audio_stats,
        # --- spatial engine (SURVEY §2.10) ---
        "tile_assign": _q_tile_assign,
        "pip_assign": _q_pip_assign,
        "pip_salted": _q_pip_salted,
        "pip_ring": _q_pip_ring,
        "bbox_overlap": _q_bbox_overlap,
        "cell_rollup": _q_cell_rollup,
        "cover_udtf": _q_cover_udtf,
        "knn_ring": _q_knn,
        "s2_known_answer": _q_s2_known_answer,
        "sql_surface_encode": _q_sql_surface,
        "cell_stats_grouped_map": _q_cell_stats,
        # --- relational engine extras ---
        "asof_latest_order": _q_asof_join,
        "asof_merge_path": _q_asof_join_merge,
        "range_join_events": _q_range_join,
        # --- LLM-data-pipeline: dedup / ANN / text ---
        "dedup_exact": _q_dedup_exact,
        "minhash_near_dup": _q_minhash_near_dup,
        "simhash": _q_simhash,
        "hamming_dedup": _q_hamming_dedup,
        "ngram_jaccard": _q_ngram_jaccard,
        "dedup_components": _q_dedup_components,
        "embedding_dedup": _q_embedding_dedup,
        "curation_pipeline": _q_curation_pipeline,
        "ann_topk": _q_ann_topk,
        "ann_lsh": _q_ann_lsh,
        "ann_ivf": _q_ann_ivf,
        "ann_recall": _q_ann_recall,
        "doc_stats": _q_doc_stats,
        "stopword_score": _q_stopword_score,
        "token_count_bpe": _q_token_count_bpe,
        "text_quality": _q_text_quality,
        "langid_heuristic": _q_langid,
        "doc_fingerprint": _q_fingerprint,
        # --- TPC-H / window representatives ---
        "q1_pricing_summary": _q1_pricing_summary,
        "q5_local_supplier": _q5_local_supplier,
        "rollup_summary": _q_rollup_summary,
        "top_customers_window": _q_top_customers,
        "events_hourly": _q_events_hourly,
        "events_sessions": _q_events_sessions,
        "events_json_extract": _q_events_json,
    }
    assert len(q) <= 50, f"driver records only 50 CORRECTNESS rows, got {len(q)}"
    return q


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Contract-shaped queries beyond the driver's 50-row CORRECTNESS window:
    the TPC-H/window variants whose features are already represented inside
    queries(). Oracle-checked by the local gate twin (verify_contract.py)
    and pytest; bench.py merges them back for cross-round comparability."""
    return {
        # q8 demoted round 4 to free a gate slot for ann_recall/audio_stats;
        # TPC-H stays represented in the gate by q1 (agg) and q5 (join tree),
        # and q8's share-of-total CASE shape by q14 here
        "q8_market_share": _q8_market_share,
        "q3_shipping_priority": _q3_shipping_priority,
        "q4_order_priority": _q4_order_priority,
        "q6_forecast_revenue": _q6_forecast_revenue,
        "q7_volume_shipping": _q7_volume_shipping,
        "q10_returned_items": _q10_returned_items,
        "q13_custdist": _q13_custdist,
        "q14_promo_share": _q14_promo_share,
        "q15_top_supplier": _q15_top_supplier,
        "q16_supplier_count": _q16_supplier_count,
        "q17_small_quantity": _q17_small_quantity,
        "q18_large_orders": _q18_large_orders,
        "q19_disjunctive": _q19_disjunctive,
        "q21_late_suppliers": _q21_late_suppliers,
        "q22_sales_opportunity": _q22_sales_opportunity,
        "token_count_regex": _q_token_count_regex,
        "bbox_overlap_distributed": _q_bbox_overlap_distributed,
        "customers_without_orders": _q_customers_without_orders,
        "moving_avg_orders": _q_moving_avg,
        "events_lead_lag": _q_lead_lag,
        "customer_dense_rank": _q_dense_rank,
        "cube_summary": _q_cube_summary,
        # Structured Streaming batch/stream equivalence (round-4 VERDICT #6):
        # chronological micro-batch replays whose finalized output must hash-
        # match the BATCH oracles for the same analytics
        "stream_events_hourly": _q_stream_events_hourly,
        "stream_events_sessions": _q_stream_events_sessions,
    }


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {**queries(), **extra_queries()}


def _oracles_all() -> dict[str, str]:
    polys = _polygons_values_sql()
    knn_vals = ", ".join(f"('{q}', {x}, {y})" for q, x, y in _KNN_QUERIES)
    return {
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   ROUND(AVG(l_quantity), 4) AS avg_qty,
                   ROUND(AVG(l_discount), 4) AS avg_disc,
                   COUNT(*) AS count_order
            FROM lineitem WHERE l_shipdate <= '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q3_shipping_priority": """
            SELECT l_orderkey, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer, orders, lineitem
            WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
              AND l_orderkey = o_orderkey
              AND o_orderdate < '1995-03-15' AND l_shipdate > '1995-03-15'
            GROUP BY l_orderkey
            ORDER BY revenue DESC, l_orderkey ASC LIMIT 10
        """,
        "q5_local_supplier": """
            SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer, orders, lineitem, supplier, nation, region
            WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
              AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
              AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
            GROUP BY n_name
        """,
        "q4_order_priority": """
            SELECT o_orderpriority, COUNT(*) AS order_count
            FROM orders
            WHERE EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
            GROUP BY o_orderpriority
        """,
        "q6_forecast_revenue": """
            SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
            FROM lineitem
            WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        """,
        "q7_volume_shipping": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(EXTRACT(year FROM l_shipdate) AS INT) AS l_year,
                   SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                       * CAST(ROUND((1 - l_discount) * 100) AS BIGINT)) / 10000.0 AS revenue
            FROM lineitem, orders, customer, supplier, nation n1, nation n2
            WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
              AND l_suppkey = s_suppkey AND s_nationkey = n1.n_nationkey
              AND c_nationkey = n2.n_nationkey AND n1.n_name != n2.n_name
            GROUP BY 1, 2, 3
        """,
        "q10_returned_items": """
            SELECT c_custkey, c_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem, orders, customer
            WHERE l_returnflag = 'R' AND l_orderkey = o_orderkey AND o_custkey = c_custkey
            GROUP BY c_custkey, c_name
            ORDER BY revenue DESC, c_custkey ASC LIMIT 20
        """,
        "q14_promo_share": """
            SELECT ROUND(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END) * 100.0
                         / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_share_pct
            FROM lineitem, part WHERE l_partkey = p_partkey
        """,
        "q16_supplier_count": """
            SELECT p_brand, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
            FROM lineitem, part WHERE l_partkey = p_partkey
            GROUP BY p_brand
        """,
        "q18_large_orders": """
            SELECT o_orderkey, o_custkey, ROUND(total_qty, 2) AS total_qty
            FROM orders,
                 (SELECT l_orderkey, SUM(l_quantity) AS total_qty
                  FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150) big
            WHERE o_orderkey = big.l_orderkey
        """,
        "q19_disjunctive": """
            SELECT ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   COUNT(*) AS n_rows
            FROM lineitem, part
            WHERE l_partkey = p_partkey AND (
                  (p_size <= 5 AND l_quantity BETWEEN 10 AND 30)
               OR (p_size <= 15 AND l_quantity BETWEEN 20 AND 40)
               OR p_brand = 'Brand#1')
        """,
        "q8_market_share": """
            WITH vol AS (
              SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
                     CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                       * CAST(ROUND((1 - l_discount) * 100) AS BIGINT) AS v,
                     n2.n_name AS supp_nation
              FROM lineitem, orders, customer, supplier, part, nation n1, nation n2, region
              WHERE l_partkey = p_partkey AND p_type = 'STANDARD'
                AND l_orderkey = o_orderkey AND o_custkey = c_custkey
                AND l_suppkey = s_suppkey
                AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
                AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey)
            SELECT o_year,
                   CAST((n * 1000 // d) * 1000 + ((n * 1000 % d) * 2000 + d) // (2 * d) AS BIGINT) AS mkt_share_e6
            FROM (SELECT o_year,
                         CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN v ELSE 0 END) AS BIGINT) AS n,
                         CAST(SUM(v) AS BIGINT) AS d
                  FROM vol GROUP BY o_year)
        """,
        "q13_custdist": """
            SELECT c_count, COUNT(*) AS custdist FROM (
              SELECT c_custkey, COUNT(o_orderkey) AS c_count
              FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
              GROUP BY c_custkey)
            GROUP BY c_count
        """,
        "q15_top_supplier": """
            WITH rev AS (
              SELECT l_suppkey,
                     CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                          * CAST(ROUND((1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS total_c2
              FROM lineitem
              WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
              GROUP BY l_suppkey)
            SELECT s_suppkey, s_name, total_c2
            FROM supplier, rev
            WHERE s_suppkey = l_suppkey AND total_c2 = (SELECT MAX(total_c2) FROM rev)
        """,
        "q21_late_suppliers": """
            WITH l AS (
              SELECT l_orderkey, l_suppkey,
                     l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              WHERE o_orderstatus = 'F'),
            multi AS (
              SELECT l_orderkey FROM l GROUP BY l_orderkey
              HAVING COUNT(DISTINCT l_suppkey) > 1),
            late AS (
              SELECT DISTINCT l_orderkey, l_suppkey FROM l WHERE late)
            SELECT s_name, COUNT(*) AS numwait
            FROM late l1 JOIN multi USING (l_orderkey)
            JOIN supplier ON s_suppkey = l1.l_suppkey
            WHERE NOT EXISTS (SELECT 1 FROM late l2
                              WHERE l2.l_orderkey = l1.l_orderkey
                                AND l2.l_suppkey <> l1.l_suppkey)
            GROUP BY s_name
        """,
        "q22_sales_opportunity": """
            WITH c2 AS (
              SELECT c_custkey, c_custkey % 10 AS code,
                     CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_c
              FROM customer),
            stats AS (
              SELECT CAST(SUM(bal_c) AS BIGINT) AS s, COUNT(*) AS n
              FROM c2 WHERE bal_c > 0)
            SELECT code, COUNT(*) AS numcust, CAST(SUM(bal_c) AS BIGINT) AS totbal_c
            FROM c2, stats
            WHERE bal_c * n > s
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey AND o_orderdate >= '1999-01-01')
            GROUP BY code
        """,
        "rollup_summary": """
            SELECT COALESCE(l_returnflag, '(all)') AS returnflag,
                   COALESCE(l_linestatus, '(all)') AS linestatus,
                   COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS sum_qty
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "customers_without_orders": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "top_customers_window": """
            SELECT c_nationkey, c_custkey, rnk, acctbal FROM (
              SELECT c_nationkey, c_custkey,
                     ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC) AS rnk,
                     ROUND(c_acctbal, 2) AS acctbal
              FROM customer) WHERE rnk <= 3
        """,
        "cube_summary": """
            SELECT COALESCE(o_orderstatus, '(all)') AS status,
                   COALESCE(o_orderpriority, '(all)') AS priority,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
            FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "q17_small_quantity": """
            WITH pp AS (
              SELECT l_partkey AS pk,
                     CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum,
                     COUNT(*) AS qty_cnt
              FROM lineitem GROUP BY l_partkey)
            SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly, COUNT(*) AS n_rows
            FROM lineitem, pp
            WHERE l_partkey = pk AND 5 * CAST(l_quantity AS BIGINT) * qty_cnt < qty_sum
        """,
        "asof_latest_order": """
            SELECT event_id, user_id,
                   CAST(mx % 100000000 AS BIGINT) AS asof_o_orderkey,
                   CAST(mx // 100000000 AS BIGINT) AS asof_ts_epoch
            FROM (
              SELECT e.event_id, e.user_id,
                     MAX(CAST(epoch(o.o_orderdate) AS BIGINT) * 100000000 + o.o_orderkey) AS mx
              FROM events e JOIN orders o
                ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
              GROUP BY e.event_id, e.user_id)
        """,
        "asof_merge_path": """
            SELECT event_id, user_id,
                   CAST(mx % 100000000 AS BIGINT) AS asof_o_orderkey,
                   CAST(mx // 100000000 AS BIGINT) AS asof_ts_epoch
            FROM (
              SELECT e.event_id, e.user_id,
                     MAX(CAST(epoch(o.o_orderdate) AS BIGINT) * 100000000 + o.o_orderkey) AS mx
              FROM events e JOIN orders o
                ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
              GROUP BY e.event_id, e.user_id)
        """,
        "range_join_events": """
            SELECT e.event_id, w.event_id AS window_id
            FROM events e JOIN events w
              ON w.event_id % 199 = 0
             AND e.ts >= w.ts
             AND e.ts <= w.ts + INTERVAL 6 HOUR
        """,
        "events_json_extract": """
            SELECT event_type, COUNT(*) AS n,
                   CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
                   CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
                   CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
            FROM events GROUP BY event_type
        """,
        "moving_avg_orders": """
            WITH wsum AS (
              SELECT o_orderkey, o_custkey,
                     SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS s,
                     COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS n
              FROM orders)
            SELECT o_orderkey, o_custkey,
                   CAST(FLOOR((2 * s + n) * 1.0 / (2 * n)) AS BIGINT) AS mov_avg_cents
            FROM wsum
        """,
        "events_lead_lag": """
            SELECT event_id, user_id,
                   ROUND(value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 6) AS delta_prev,
                   LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
            FROM events
        """,
        "customer_dense_rank": """
            SELECT c_custkey, c_mktsegment,
                   CAST(DENSE_RANK() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC) AS INT) AS drnk,
                   CAST(NTILE(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC) AS INT) AS quartile
            FROM customer
        """,
        "events_hourly": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
                   COUNT(*) AS n, ROUND(SUM(value), 3) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "events_sessions": """
            SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions, COUNT(*) AS n_events FROM (
              SELECT user_id,
                     CASE WHEN epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                          OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                          THEN 1 ELSE 0 END AS new_sess
              FROM events) GROUP BY user_id
        """,
        # the STREAM replays must converge to the same answers as the batch
        # oracles (window() start == date_trunc('hour') for aligned windows)
        "stream_events_hourly": """
            SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
                   event_type, COUNT(*) AS n, ROUND(SUM(value), 3) AS total_value
            FROM events GROUP BY 1, 2
        """,
        "stream_events_sessions": """
            SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions, COUNT(*) AS n_events FROM (
              SELECT user_id,
                     CASE WHEN epoch(ts) - epoch(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                          OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                          THEN 1 ELSE 0 END AS new_sess
              FROM events) GROUP BY user_id
        """,
        "cell_stats_grouped_map": f"""
            WITH pts AS ({_POINTS_SQL}),
            g AS (SELECT CAST(FLOOR((lon + 180.0) / 10.0) * 100 + FLOOR((lat + 90.0) / 10.0) AS BIGINT) AS cell,
                         CAST(ROUND(lat * 1000000) AS BIGINT) AS lat_e6,
                         CAST(ROUND(lon * 1000000) AS BIGINT) AS lon_e6
                  FROM pts)
            SELECT cell, COUNT(*) AS n,
                   MIN(lat_e6) AS lat_min_e6, MAX(lat_e6) AS lat_max_e6,
                   CAST(ROUND(2 * MEDIAN(lat_e6)) AS BIGINT) AS lat_med_e6_x2,
                   CAST(SUM(lon_e6) AS BIGINT) AS lon_sum_e6
            FROM g GROUP BY cell
        """,
        "tile_assign": f"""
            WITH pts AS ({_POINTS_SQL})
            SELECT point_id,
                   GREATEST(0, LEAST(4095, CAST(FLOOR((lon + 180.0) / 360.0 * 4096.0) AS BIGINT))) AS tile_x,
                   GREATEST(0, LEAST(4095, CAST(FLOOR((1.0 - LN(TAN(RADIANS(LEAST(GREATEST(lat, -85.05112877980659), 85.05112877980659)))
                         + 1.0 / COS(RADIANS(LEAST(GREATEST(lat, -85.05112877980659), 85.05112877980659)))) / PI()) / 2.0 * 4096.0) AS BIGINT))) AS tile_y
            FROM pts
        """,
        "pip_assign": f"""
            WITH pts AS ({_POINTS_SQL})
            SELECT point_id, poly_id
            FROM pts, {polys}
            WHERE lon >= west AND lon <= east AND lat >= south AND lat <= north
        """,
        "pip_salted": f"""
            WITH pts AS ({_POINTS_SQL})
            SELECT point_id, poly_id
            FROM pts, {polys}
            WHERE lon >= west AND lon <= east AND lat >= south AND lat <= north
        """,
        "pip_ring": f"""
            WITH pts AS ({_POINTS_SQL}),
            c AS (
              SELECT p.point_id, e.poly_id,
                     CASE WHEN ((e.y1 > p.lat) != (e.y2 > p.lat))
                           AND p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1
                          THEN 1 ELSE 0 END AS hit
              FROM pts p, {_ring_edges_sql()})
            SELECT point_id, poly_id
            FROM c GROUP BY point_id, poly_id HAVING SUM(hit) % 2 = 1
        """,
        "bbox_overlap": f"""
            SELECT a.poly_id AS id_a, b.poly_id AS id_b
            FROM {polys.replace("AS polys(", "AS a(")}, {polys.replace("AS polys(", "AS b(")}
            WHERE a.poly_id < b.poly_id
              AND a.west <= b.east AND a.east >= b.west
              AND a.south <= b.north AND a.north >= b.south
        """,
        "bbox_overlap_distributed": """
            WITH m AS (
              SELECT o_orderkey,
                     ((o_orderkey % 1000000) * 2654435761) % 1000000 AS m1,
                     (o_orderkey * 40503 + 971) % 1000000 AS m2
              FROM orders),
            p AS (
              SELECT 'o' || CAST(o_orderkey AS VARCHAR) AS poly_id,
                     -140.0 + ((m1 * m1 + 7 * m1) % 1000000) / 1000000.0 * 86.0 AS lon,
                     42.0 + ((m2 * m2 + 13 * m2) % 1000000) / 1000000.0 * 40.0 AS lat,
                     0.02 + CAST(o_orderkey % 5 AS DOUBLE) * 0.01 AS dx,
                     0.02 + CAST(o_orderkey % 7 AS DOUBLE) * 0.005 AS dy
              FROM m),
            boxes AS (
              SELECT poly_id, lon - dx AS west, lat - dy AS south,
                     lon + dx AS east, lat + dy AS north
              FROM p)
            SELECT a.poly_id AS id_a, b.poly_id AS id_b
            FROM boxes a, boxes b
            WHERE a.poly_id < b.poly_id
              AND a.west <= b.east AND a.east >= b.west
              AND a.south <= b.north AND a.north >= b.south
        """,
        "knn_ring": f"""
            WITH pts AS ({_POINTS_SQL}),
            q AS (SELECT * FROM (VALUES {knn_vals}) AS q(query_id, q_lon, q_lat)),
            d AS (
              SELECT q.query_id, pts.point_id,
                     POWER((q.q_lon - pts.lon) * COS(RADIANS((q.q_lat + pts.lat) / 2.0)), 2)
                     + POWER(q.q_lat - pts.lat, 2) AS dist2
              FROM q, pts)
            SELECT query_id, point_id, rank FROM (
              SELECT query_id, point_id,
                     ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dist2 ASC, point_id ASC) AS rank
              FROM d) WHERE rank <= 10
        """,
        "dedup_exact": """
            SELECT md5(text) AS text_hash, COUNT(*) AS n_dups, MIN(doc_id) AS keeper_doc_id
            FROM documents GROUP BY 1
        """,
        "doc_stats": """
            SELECT doc_id, LENGTH(text) AS n_chars_computed,
                   len(string_split(text, ' ')) AS n_tokens,
                   ROUND(LENGTH(text) * 1.0 / len(string_split(text, ' ')), 4) AS avg_token_len
            FROM documents
        """,
        "stopword_score": """
            SELECT doc_id,
                   CAST((LENGTH(text) - LENGTH(REPLACE(text, ' the ', ''))) / 5 AS BIGINT) AS n_the,
                   CAST((LENGTH(text) - LENGTH(REPLACE(text, ' a ', ''))) / 3 AS BIGINT) AS n_a,
                   CAST((LENGTH(text) - LENGTH(REPLACE(text, ' value ', ''))) / 7 AS BIGINT) AS n_value
            FROM documents
        """,
        "token_count_regex": r"""
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
            FROM documents
        """,
        "text_quality": """
            WITH base AS (
              SELECT doc_id, text,
                     LENGTH(text) AS n_chars,
                     len(string_split(text, ' ')) AS n_tokens,
                     LENGTH(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
                     LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
                     LENGTH(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
                     len(list_distinct(string_split(text, ' '))) AS n_uniq
              FROM documents)
            SELECT doc_id, n_chars, n_tokens,
                   ROUND(n_chars * 1.0 / n_tokens, 4) AS avg_token_len,
                   ROUND(n_alpha * 1.0 / n_chars, 4) AS alpha_ratio,
                   ROUND(n_digit * 1.0 / n_chars, 4) AS digit_ratio,
                   ROUND(n_punct * 1.0 / n_chars, 4) AS punct_ratio,
                   ROUND(n_uniq * 1.0 / n_tokens, 4) AS uniq_token_ratio,
                   ROUND(LEAST(1.0, n_tokens / 20.0)
                         * (1.0 - ROUND(n_digit * 1.0 / n_chars, 4))
                         * (1.0 - ROUND(n_punct * 1.0 / n_chars, 4))
                         * ROUND(n_uniq * 1.0 / n_tokens, 4), 4) AS quality
            FROM base
        """,
        "ngram_jaccard": r"""
            WITH g AS (
              SELECT doc_id,
                     list_distinct([array_to_string(toks[i:i+2], ' ')
                                    for i in generate_series(1, greatest(1, len(toks)-2))]) AS grams
              FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   ROUND(len(list_intersect(a.grams, b.grams)) * 1.0
                         / len(list_distinct(list_concat(a.grams, b.grams))), 6) AS jaccard
            FROM g a, g b
            WHERE a.doc_id < b.doc_id
              AND len(list_intersect(a.grams, b.grams)) * 1.0
                  / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.4
        """,
        "curation_pipeline": """
            WITH base AS (
              SELECT doc_id, lang, text,
                     LENGTH(text) AS n_chars,
                     len(string_split(text, ' ')) AS n_tokens,
                     LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
                     LENGTH(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
                     len(list_distinct(string_split(text, ' '))) AS n_uniq
              FROM documents),
            scored AS (
              SELECT doc_id, lang, text,
                     ROUND(LEAST(1.0, n_tokens / 20.0)
                           * (1.0 - ROUND(n_digit * 1.0 / n_chars, 4))
                           * (1.0 - ROUND(n_punct * 1.0 / n_chars, 4))
                           * ROUND(n_uniq * 1.0 / n_tokens, 4), 4) AS quality
              FROM base),
            kept AS (
              SELECT doc_id, lang, text, quality,
                     ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
              FROM scored WHERE quality >= 0.3)
            SELECT lang, COUNT(*) AS n_docs,
                   CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
                   CAST(SUM(CAST(ROUND(quality * 10000) AS BIGINT)) AS BIGINT) AS sum_quality_e4
            FROM kept WHERE rn = 1 GROUP BY lang
        """,
        "hamming_dedup": """
            WITH base AS (
              SELECT doc_id,
                     xor(((doc_id * 2654435761) % 2147483648) * 4294967296,
                         (doc_id * 40503 + 12345) % 4294967296) AS phash
              FROM documents),
            planted AS (
              SELECT doc_id + 1000000 AS doc_id, xor(phash, 5) AS phash
              FROM base WHERE doc_id % 100 = 0),
            allv AS (SELECT * FROM base UNION ALL SELECT * FROM planted)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
            FROM allv a, allv b
            WHERE a.doc_id < b.doc_id AND bit_count(xor(a.phash, b.phash)) <= 3
        """,
        "csv_export_roundtrip": """
            SELECT n_nationkey, n_name, n_regionkey FROM nation
        """,
        "dedup_components": r"""
            WITH g AS (
              SELECT doc_id,
                     list_distinct([array_to_string(toks[i:i+2], ' ')
                                    for i in generate_series(1, greatest(1, len(toks)-2))]) AS grams
              FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
            ),
            pairs AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM g a, g b
              WHERE a.doc_id < b.doc_id
                AND len(list_intersect(a.grams, b.grams)) * 1.0
                    / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.4),
            edges AS (
              SELECT id_a AS src, id_b AS dst FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
            reach AS (
              WITH RECURSIVE r(node, lbl) AS (
                SELECT src, src FROM edges
                UNION
                SELECT e.dst, r.lbl FROM r JOIN edges e ON e.src = r.node)
              SELECT node, MIN(lbl) AS component FROM r GROUP BY node)
            SELECT node AS doc_id, component, node = component AS keep FROM reach
        """,
        "snapshot_time_travel": """
            SELECT CAST(1 AS INT) AS version, COUNT(*) AS n_rows,
                   CAST(SUM(doc_id) AS BIGINT) AS sum_id
            FROM documents
            UNION ALL
            SELECT CAST(2 AS INT), 2 * COUNT(*),
                   CAST(2 * SUM(doc_id) + 10000 * COUNT(*) AS BIGINT)
            FROM documents
        """,
        "embedding_dedup": """
            WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
            planted AS (
              SELECT vec_id + 1000000 AS vec_id, list_transform(emb, x -> x * 1.01 + 0.001) AS emb
              FROM base WHERE vec_id < 5),
            allv AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
            pairs AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     ROUND(list_dot_product(a.emb, b.emb)
                       / (SQRT(list_dot_product(a.emb, a.emb))
                          * SQRT(list_dot_product(b.emb, b.emb))), 6) AS sim
              FROM allv a, allv b WHERE a.vec_id < b.vec_id)
            SELECT id_a, id_b, sim FROM pairs WHERE sim >= 0.9
        """,
        "ann_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 3),
            sims AS (
              SELECT q.query_id, e.vec_id,
                     ROUND(list_dot_product(CAST(q.q_emb AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
                       / (SQRT(list_dot_product(CAST(q.q_emb AS DOUBLE[]), CAST(q.q_emb AS DOUBLE[])))
                          * SQRT(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))), 6) AS sim
              FROM embeddings e, q WHERE e.vec_id != q.query_id)
            SELECT query_id, vec_id, rank, sim FROM (
              SELECT query_id, vec_id, sim,
                     ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rank
              FROM sims) WHERE rank <= 10
        """,
        # known-answer oracle: the FROZEN literal (_S2_KNOWN), not a re-run
        # of the encoder — an s2.py regression hash-fails here
        "s2_known_answer": (
            "SELECT CAST(lat AS DOUBLE) AS lat, CAST(lon AS DOUBLE) AS lon, "
            "CAST(level AS INT) AS level, CAST(cell AS BIGINT) AS cell FROM (VALUES "
            + ", ".join(f"({la!r}, {lo!r}, {lv}, {c})" for la, lo, lv, c in _S2_KNOWN)
            + ") AS t(lat, lon, level, cell)"
        ),
    }


def _sql_lit(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def _known_answer_sql(name: str) -> str:
    """Frozen known-answer oracle: the engine's deterministic outputs
    (fixture-driven geocore/harvest/image/cover/lineage queries) frozen as
    a VALUES literal by scripts/freeze_known_answers.py — a regression
    changes the output and hash-fails the gate; the md5 rows are further
    byte-anchored vs the reference by tests/test_geocore_golden.py."""
    from stac_to_geocore_spark.known_answers import KNOWN

    spec = KNOWN[name]
    proj = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in spec["cols"])
    names = ", ".join(c for c, _t in spec["cols"])
    rows = ", ".join(
        "(" + ", ".join(_sql_lit(v) for v in row) + ")" for row in spec["rows"]
    )
    return f"SELECT {proj} FROM (VALUES {rows}) AS t({names})"


_KNOWN_ANSWER_ORACLES = [
    # fixture-driven, sf-independent
    "geocore_translate", "geocore_collections", "geocore_root",
    "harvest_sink_job", "stac_source_scan", "cover_udtf",
    "image_verify", "image_decode_stats",
    # deterministic at the gate's fixed sf0.01; seeded-hash internals are
    # correctness-anchored elsewhere (planted-dup pytest, brute-force
    # ngram/embedding oracles, recall tests) — the frozen literal adds
    # exact regression detection the rows-only check could not give
    "lineage_resume", "cell_rollup", "minhash_near_dup", "simhash",
    "doc_fingerprint", "langid_heuristic", "ann_lsh", "ann_ivf",
    "ann_recall", "audio_stats", "token_count_bpe", "sql_surface_encode",
]


def oracle_sql() -> dict[str, str]:
    """Oracles for the driver gate — one for EVERY queries() entry, zero
    rows-only: live ANSI SQL where the logic is SQL-expressible, frozen
    known-answer VALUES literals (_KNOWN_ANSWER_ORACLES, generated and
    round-trip-validated by scripts/freeze_known_answers.py) for
    deterministic engine-only ops. Demoted queries' oracles live in
    extra_oracle_sql() for the local gate twin."""
    q = set(queries())
    out = {k: v for k, v in _oracles_all().items() if k in q}
    for name in _KNOWN_ANSWER_ORACLES:
        if name in q and name not in out:
            out[name] = _known_answer_sql(name)
    return out


def extra_oracle_sql() -> dict[str, str]:
    q = set(queries())
    return {k: v for k, v in _oracles_all().items() if k not in q}
