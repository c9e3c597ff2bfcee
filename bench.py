"""Per-round bench harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "images_per_sec": ...}

The flagship stage (H3 encode + PIP join + tile assignment — BASELINE.json's
metric) runs over a synthetic images table sized ~10x lineitem's row count
for the chosen sf, generated distributed (counter-based, no driver
materialization) with bytes_mode='none' so we measure the engine, not the
fixture generator. Full execution is forced with the noop sink (whole plan
runs, nothing collected).

Weather robustness (round-4 VERDICT #1): the sandbox host's throughput
swings ~2x minute-to-minute, and a single-shot measurement once recorded a
38% flagship "regression" with zero code change in that path. So:
  * every query runs SPARK_GRAFT_BENCH_REPS times (default 3) with the
    repetitions INTERLEAVED across the whole suite (rep loop outside the
    query loop) — a bad host minute hits one rep of many queries instead of
    all reps of one query — and the committed number is the per-query MIN
    (the best observed = the least weather-contaminated run);
  * a same-hour no-Spark numpy host control (scripts/host_ceiling_control.py
    kernel, the same float64 trig/sqrt arithmetic class as the cell-encode
    kernel) runs before and after the suite and is recorded INTO the JSON,
    so a cross-round delta can be attributed to host phase quantitatively
    (compare host_control units/s across the two artifacts);
  * per-rep raw seconds ship in "rep_seconds" so the spread itself is in
    the committed artifact.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys
import time


def _force(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def _host_control(procs: int = 8, n_iter: int = 10) -> float:
    """Units/sec of the pure-numpy multiprocessing control (no Spark/JVM):
    measures the host itself in the same minute as the bench."""
    spec = importlib.util.spec_from_file_location(
        "host_ceiling_control",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "scripts", "host_ceiling_control.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    # register BEFORE exec: mp.Pool pickles the kernel fn by module name,
    # and fork/spawn workers resolve it through sys.modules
    sys.modules[spec.name] = mod
    spec.loader.exec_module(mod)
    return round(mod.run(procs, n_iter), 1)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    ctrl_procs = 8
    ctrl_pre = _host_control(ctrl_procs)

    from stac_to_geocore_spark.session import get_spark

    spark = get_spark(
        app_name="bench", master=f"local[{cpus}]",
        shuffle_partitions=max(16, 2 * int(cpus)),
        extra_conf={
            # flagship rows are narrow (no binary payload): large Arrow
            # batches amortize per-batch python overhead; fat-row jobs keep
            # the 1024 default from session.py
            "spark.sql.execution.arrow.maxRecordsPerBatch": "16384",
            "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod
    from bench_scaling import ensure_images_table
    from pyspark.sql import functions as Fn

    from stac_to_geocore_spark.cells.tiles import tile_x_expr, tile_y_expr
    from stac_to_geocore_spark.fixtures import polygons_df
    from stac_to_geocore_spark.pipeline import encode_stage, flagship

    # --- flagship input: H3 encode + PIP join + tile assign (images/sec
    # metric) over a pre-materialized parquet images table (the metric is
    # the pipeline, not fixture generation) ---
    try:
        n_images = int(os.environ.get("SPARK_GRAFT_BENCH_IMAGES", "0")) or {
            "0.001": 20_000, "0.01": 200_000, "0.1": 2_000_000,
        }.get(sf, 2_000_000)
    except ValueError:
        n_images = 2_000_000
    images = spark.read.parquet(ensure_images_table(spark, n_images))
    polys = polygons_df(spark, 64)
    _force(flagship(images.limit(20_000), polys))  # warmup (codegen + pools)

    # --- headline relational / text / spatial queries on the sf tables ---
    bench_queries = [
        "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
        "top_customers_window", "events_hourly", "events_sessions",
        "tile_assign", "pip_assign", "knn_ring",
        # the 100x-scale code paths, not just the dim/broadcast routes
        # (round-3 VERDICT #6): salted-shuffle PIP and the both-big
        # sort-merge region join — a regression in either moves a committed number
        "pip_salted", "bbox_overlap_distributed",
        "dedup_exact", "doc_stats", "stopword_score", "ann_topk",
        # true-BPE counting under the 2000-merge frozen vocab: a committed
        # number now guards the memoized-UDF throughput at the larger table
        "token_count_bpe",
    ]
    qmap = entrymod.all_queries()  # bench suite spans gate + demoted entries

    tasks: list[tuple[str, object]] = [
        ("flagship_pipeline", lambda: _force(flagship(images, polys))),
        ("stage_encode_h3_s2_tile", lambda: _force(encode_stage(images))),
        ("stage_tile_only", lambda: _force(images.select(
            "image_id", tile_x_expr(Fn.col("lon"), 12).alias("x"),
            tile_y_expr(Fn.col("lat"), 12).alias("y")))),
    ] + [
        (name, (lambda q=qmap[name]: _force(q(spark, sf_dir))))
        for name in bench_queries if name in qmap
    ]

    rep_seconds: dict[str, list[float]] = {name: [] for name, _ in tasks}
    for _rep in range(reps):
        for name, fn in tasks:
            t0 = time.monotonic()
            try:
                fn()
                rep_seconds[name].append(round(time.monotonic() - t0, 3))
            except Exception as exc:  # keep the bench line intact
                rep_seconds[name].append(-1.0)
                print(f"bench error in {name}: {exc}", file=sys.stderr)

    timings: dict[str, float] = {}
    for name, secs in rep_seconds.items():
        ok = [s for s in secs if s > 0]
        timings[name] = min(ok) if ok else -1.0
    images_per_sec = (
        round(n_images / timings["flagship_pipeline"], 1)
        if timings["flagship_pipeline"] > 0 else -1.0
    )

    ctrl_post = _host_control(ctrl_procs)

    total = round(sum(v for v in timings.values() if v > 0), 3)
    print(json.dumps({
        "metric": "headline suite wall time (flagship H3+PIP+tile pipeline + operator queries)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "images_per_sec": images_per_sec,
        "n_images": n_images,
        "cpus": int(cpus),
        "reps": reps,
        "rep_seconds": rep_seconds,
        "host_control": {
            "procs": ctrl_procs,
            "pre_units_per_s": ctrl_pre,
            "post_units_per_s": ctrl_post,
            "note": "pure-numpy multiprocessing control (no Spark); compare "
                    "across round artifacts to attribute suite deltas to "
                    "host phase vs plan changes",
        },
    }))
    spark.stop()


if __name__ == "__main__":
    main()
