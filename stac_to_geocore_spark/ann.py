"""Similarity search over embedding columns (array<float>).

Three paths, same contract (query_id, vec_id, rank, sim), one exact cosine
re-rank tail (`_rerank_topk`):

- `brute_topk`: exact cosine top-k — broadcast the query set, JVM-side
  zip_with/aggregate dot products (no Python in the scan), window top-k.
  The correctness baseline; also the right plan when |queries| is small.
- `lsh_topk`: random-hyperplane LSH — signatures are a map-only pandas UDF,
  candidates come from equi-joining bucket keys (multi-probe: the exact
  bucket plus all 1-bit-flip neighbors), exact cosine re-rank on candidates.
  The scale path: the 10^12-row side is never shuffled, only bucketed keys.
- `ivf_topk`: the same shape with a k-means coarse quantizer's cells as
  the buckets.

Hyperplanes are generated counter-based from the seed, so signatures agree
across executors without shipping the planes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType
from pyspark.sql.window import Window


def _dot(a: str, b: str):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x,
    )


def _norm(col: str):
    return F.sqrt(F.aggregate(F.transform(col, lambda x: x.cast("double") * x.cast("double")), F.lit(0.0), lambda acc, x: acc + x))


# Norms are attached per ROW below each join and the similarity divides by
# the precomputed columns: the old _cosine(a, b) expression re-evaluated the
# interpreted higher-order norm aggregates once per candidate PAIR — 3x the
# array work, and norms dominate it. Identical doubles (same expression, same
# inputs), so every frozen oracle holds.
def _sim_prenormed(a_vec: str, b_vec: str, a_norm: str = "na", b_norm: str = "nb"):
    return F.round(_dot(a_vec, b_vec) / (F.col(a_norm) * F.col(b_norm)), 6)


def _rerank_topk(cand: DataFrame, k: int, id_col: str, vec_col: str, q_id: str, q_vec: str) -> DataFrame:
    """Exact cosine top-k per query over candidate (query, row) pairs that
    carry both vectors and their norms "na" (query) and "nb" (row): the
    query's own row is dropped, ties rank by ascending row id."""
    w = Window.partitionBy(q_id).orderBy(F.desc("sim"), F.asc(id_col))
    return (
        cand.filter(F.col(id_col) != F.col(q_id))
        .withColumn("sim", _sim_prenormed(q_vec, vec_col))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, id_col, "rank", "sim")
    )


def brute_topk(
    emb: DataFrame, queries: DataFrame, k: int = 10,
    id_col: str = "vec_id", vec_col: str = "embedding",
    q_id: str = "query_id", q_vec: str = "q_emb",
) -> DataFrame:
    """Exact cosine top-k of emb rows per query row (queries broadcast)."""
    from stac_to_geocore_spark.partitioning import fan_out

    emb = fan_out(emb).withColumn("nb", _norm(vec_col))
    queries = queries.withColumn("na", _norm(q_vec))
    return _rerank_topk(emb.crossJoin(F.broadcast(queries)), k, id_col, vec_col, q_id, q_vec)


def _planes(dim: int, n_tables: int, n_planes: int, seed: int) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((n_tables, n_planes, dim))


def lsh_bucket_udf(dim: int, n_tables: int = 8, n_planes: int = 6, seed: int = 42, probe: bool = False):
    """array<long> of per-table bucket keys (table index folded into the key
    so keys never collide across tables). probe=True is the QUERY side's
    multi-probe: per table, the exact bucket plus every 1-bit-flip neighbor
    (the n_planes buckets across the single nearest hyperplane), so only
    the tiny query side fans out (1 + n_planes keys per table); data rows
    keep one key per table."""
    planes = _planes(dim, n_tables, n_planes, seed)
    powers = (1 << np.arange(n_planes)).astype(np.int64)
    # XOR masks: the exact bucket, then (probe) the 1-bit flips
    flips = np.concatenate([[0], powers]) if probe else np.zeros(1, dtype=np.int64)

    @F.pandas_udf(ArrayType(LongType()))
    def _sig(vecs: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        bits = np.einsum("rd,tpd->rtp", m, planes) > 0
        keys = (bits * powers).sum(axis=2).astype(np.int64)        # (rows, tables)
        probed = keys[:, :, None] ^ flips[None, None, :]           # (rows, tables, flips)
        probed = probed + (np.arange(n_tables, dtype=np.int64) << np.int64(32))[None, :, None]
        return pd.Series(list(probed.reshape(len(vecs), -1)))

    return _sig


def lsh_topk(
    emb: DataFrame, queries: DataFrame, k: int = 10, dim: int = 64,
    n_tables: int = 8, n_planes: int = 6, seed: int = 42,
    id_col: str = "vec_id", vec_col: str = "embedding",
    q_id: str = "query_id", q_vec: str = "q_emb",
) -> DataFrame:
    """Approximate top-k: candidates = union of same-bucket rows over
    n_tables independent random-hyperplane tables, exact cosine re-rank.
    Recall/candidate-fraction trades off via (n_tables, n_planes): more
    planes -> smaller buckets, more tables -> higher recall; the query side
    also probes each 1-bit-flip neighbor bucket. At warehouse scale the
    bucket keys are the table's bucketing/partition columns, so the probe
    side prunes file reads instead of scanning."""
    from stac_to_geocore_spark.partitioning import fan_out

    sig = lsh_bucket_udf(dim, n_tables, n_planes, seed)
    q_sig = lsh_bucket_udf(dim, n_tables, n_planes, seed, probe=True)
    data = fan_out(emb).withColumn("nb", _norm(vec_col)).withColumn(
        "bucket", F.explode(sig(F.col(vec_col))))
    q = (
        queries.withColumn("na", _norm(q_vec))
        .withColumn("bucket", F.explode(q_sig(F.col(q_vec))))
        .select(q_id, q_vec, "na", "bucket")
    )
    cand = (
        data.join(F.broadcast(q), "bucket")
        .select(q_id, q_vec, "na", id_col, vec_col, "nb")
        .distinct()
    )
    return _rerank_topk(cand, k, id_col, vec_col, q_id, q_vec)


def _kmeans_np(sample: np.ndarray, n_centroids: int, seed: int, iters: int = 12) -> np.ndarray:
    """Plain numpy Lloyd's k-means (driver-side coarse quantizer training)."""
    rng = np.random.default_rng(seed)
    cent = sample[rng.choice(len(sample), size=n_centroids, replace=False)].copy()
    for _ in range(iters):
        d = ((sample[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(n_centroids):
            m = assign == c
            if m.any():
                cent[c] = sample[m].mean(axis=0)
    return cent


def ivf_assign_udf(centroids: np.ndarray, n_probe: int = 1):
    """array<long> of the n_probe nearest centroid ids per vector."""
    cent = centroids

    @F.pandas_udf(ArrayType(LongType()))
    def _assign(vecs: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        d = ((m[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        idx = np.argsort(d, axis=1)[:, :n_probe].astype(np.int64)
        return pd.Series(list(idx))

    return _assign


def ivf_topk(
    emb: DataFrame, queries: DataFrame, k: int = 10, dim: int = 64,
    n_centroids: int = 16, n_probe: int = 4, train_sample: int = 4096, seed: int = 42,
    id_col: str = "vec_id", vec_col: str = "embedding",
    q_id: str = "query_id", q_vec: str = "q_emb",
) -> DataFrame:
    """IVF (inverted-file) ANN: a driver-trained k-means coarse quantizer
    partitions vectors into cells; queries probe their n_probe nearest
    cells; exact cosine re-ranks the candidates.

    The scale story mirrors lsh_topk: data rows carry one int cell id (the
    natural bucketing/partition column at warehouse scale, so probes prune
    file reads), and only the tiny query side fans out over probes."""
    # unbiased seeded cap: order by a seeded hash of the id and take the
    # top-N — executes as per-partition TakeOrdered + driver merge (ONE pass,
    # no count() job, no shuffle). Round 2's sample(frac).limit(N) still
    # preferred the first partitions (limit short-circuits) and paid an
    # extra full count() scan to size the fraction.
    # secondary key = hash of the vector itself, so the order stays
    # deterministic even if id_col has duplicate values
    sample_rows = (
        emb.select(
            vec_col,
            F.xxhash64(F.col(id_col), F.lit(seed)).alias("_r"),
            F.xxhash64(F.col(vec_col)).alias("_r2"),
        )
        .orderBy("_r", "_r2")
        .limit(train_sample)
        .select(vec_col)
        .collect()
    )
    sample = np.stack([np.asarray(r[0], dtype=np.float64) for r in sample_rows])
    centroids = _kmeans_np(sample, n_centroids, seed)

    from stac_to_geocore_spark.partitioning import fan_out

    # coalesce(-1): the UDF result is nullable, so the join's inferred
    # isnotnull(ivf_cell) would be pushed below the projection with its own
    # copy of the UDF and sign every data row twice (see h3x.h3_encode)
    data = fan_out(emb).withColumn("nb", _norm(vec_col)).withColumn(
        "ivf_cell", F.coalesce(ivf_assign_udf(centroids, 1)(F.col(vec_col))[0], F.lit(-1)))
    q = (
        queries.withColumn("na", _norm(q_vec))
        .withColumn("ivf_cell", F.explode(ivf_assign_udf(centroids, n_probe)(F.col(q_vec))))
        .select(q_id, q_vec, "na", "ivf_cell")
    )
    return _rerank_topk(data.join(F.broadcast(q), "ivf_cell"), k, id_col, vec_col, q_id, q_vec)


def embedding_dedup_pairs(
    emb: DataFrame, threshold: float = 0.95, dim: int = 64,
    n_tables: int = 6, n_planes: int = 10, seed: int = 42,
    id_col: str = "vec_id", vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, sim >= threshold)
    via LSH self-join + exact verify. High-threshold near-dups collide with
    probability ~(1 - theta/pi)^n_planes per table, so a handful of tables
    suffices at 0.95+ cosine. Each vector is signed once: both sides of the
    shared bucket self-join (text.dedup._lsh_candidates) read one exchange."""
    from stac_to_geocore_spark.partitioning import fan_out
    from stac_to_geocore_spark.text.dedup import _lsh_candidates

    rows = fan_out(emb).select(id_col, F.col(vec_col).alias("v"), _norm(vec_col).alias("n"))
    keys = lsh_bucket_udf(dim, n_tables, n_planes, seed)(F.col("v"))
    return (
        _lsh_candidates(rows, id_col, keys)
        .withColumn("sim", _sim_prenormed("v_a", "v_b", "n_a", "n_b"))
        .filter(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
        .distinct()
    )
