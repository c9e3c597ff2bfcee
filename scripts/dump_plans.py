"""Regenerate docs/PLANS.md plan dumps for the audited queries.

Usage: python scripts/dump_plans.py <section> ...
Sections: flagship, q5, q1, pip_assign, minhash, ngram, embedding, asof,
range_join, bbox_overlap
Prints each as '=== <name> ===' + explain('formatted') output. A section
suffixed ':final' (e.g. bbox_overlap:final) runs the query instead and
prints its final adaptive plan, where AQE's exchange reuse shows.
"""

import contextlib
import io
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python workers import the package too, whatever the working directory
os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def fmt(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    from stac_to_geocore_spark.session import get_spark

    spark = get_spark(master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as m

    qs = {**m.queries(), **m.extra_queries()}
    targets = sys.argv[1:] or ["flagship", "q5", "q1", "pip_assign", "minhash", "asof"]
    for t in targets:
        name, _, final = t.partition(":")
        if name == "flagship":
            from bench_scaling import ensure_images_table
            from stac_to_geocore_spark.fixtures import polygons_df
            from stac_to_geocore_spark.pipeline import flagship

            images = spark.read.parquet(ensure_images_table(spark, 2_000_000))
            df = flagship(images, polygons_df(spark, 24))
        else:
            name = {
                "q5": "q5_local_supplier", "q1": "q1_pricing_summary",
                "pip_assign": "pip_assign", "minhash": "minhash_near_dup",
                "ngram": "ngram_jaccard", "embedding": "embedding_dedup",
                "asof": "asof_latest_order", "range_join": "range_join_events",
                "bbox_overlap": "bbox_overlap_distributed",
            }[name]
            df = qs[name](spark, "/root/testdata/sf0.01")
        print(f"=== {t} ===")
        if final:
            df.collect()
            print(df._jdf.queryExecution().executedPlan().toString())
        else:
            print(fmt(df))


if __name__ == "__main__":
    main()
