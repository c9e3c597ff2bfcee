"""Near-duplicate detection over the documents table: MinHash+LSH, SimHash,
n-gram Jaccard.

Plan shapes (the 100 TB story):
- Signatures are map-only Arrow-batched pandas UDFs, run once per row:
  every consumer reads one exchange of the signed rows.
- LSH banding turns near-dup search into an equi-join: explode signatures
  into (band, band_hash) keys, self-join on the key (`_lsh_candidates`,
  shared with ann.embedding_dedup_pairs) — it shuffles ids, keys and the
  columns the verify step reads, never document text.
- Candidate pairs are verified with exact signature similarity (or exact
  n-gram Jaccard on the pair subset, which is tiny).

Hashing is counter-based (splitmix64 over blake2b shingle digests), so
signatures are identical on any executor / any partitioning.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType
from pyspark.sql.window import Window

_MERSENNE = (1 << 61) - 1


def _shingle_hashes(text: str, k: int) -> np.ndarray:
    """Distinct char-k-gram 64-bit hashes (blake2b-8byte, deterministic)."""
    if len(text) < k:
        grams = {text}
    else:
        grams = {text[i : i + k] for i in range(len(text) - k + 1)}
    out = np.fromiter(
        (int.from_bytes(hashlib.blake2b(g.encode("utf-8"), digest_size=8).digest(), "big")
         for g in grams),
        dtype=np.uint64, count=len(grams),
    )
    return out


def _minhash_params(num_hashes: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=num_hashes, dtype=np.int64).astype(np.uint64)
    b = rng.integers(0, _MERSENNE, size=num_hashes, dtype=np.int64).astype(np.uint64)
    return a, b


def minhash_signatures(
    df: DataFrame, text_col: str = "text", num_hashes: int = 64, shingle_k: int = 5, seed: int = 42
) -> DataFrame:
    """Adds `sig: array<long>` — the MinHash signature (map-only stage)."""
    a, b = _minhash_params(num_hashes, seed)

    @F.pandas_udf(ArrayType(LongType()))
    def _sig(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            sh = _shingle_hashes(t or "", shingle_k) % _MERSENNE
            # (a*x + b) mod p for all hash fns x all shingles, min over shingles
            vals = (a[:, None] * sh[None, :] + b[:, None]) % _MERSENNE
            out.append(vals.min(axis=1).astype(np.int64))
        return pd.Series(out)

    # the shingle+minhash kernel is heavy python work; a single-row-group
    # documents scan would run it on one core (fan_out no-ops on real
    # many-split scans; see partitioning.py)
    from stac_to_geocore_spark.partitioning import fan_out

    return fan_out(df).withColumn("sig", _sig(F.col(text_col)))


def _lsh_candidates(
    rows: DataFrame, id_col: str, keys: Column, max_band_size: int | None = None
) -> DataFrame:
    """(id_a < id_b) pairs of `rows` that share a bucket, each other column
    of `rows` as <c>_a and <c>_b. `keys` is an array column over `rows`, one
    bucket key per band; a pair collides in band i iff its i-th keys agree,
    and appears once per band it collides in (callers verify, then
    distinct). Buckets of more than max_band_size rows are dropped.

    Both join sides and the cap's window read one exchange on (band, key),
    below the renaming selects: the join's own exchanges would sit above
    them, not match, and re-run the UDFs that built `rows` once per side.
    `keys` is a Column rather than a column of `rows`, as a key array
    selected on its own ahead of the explode is planned as more UDF nodes."""
    others = [c for c in rows.columns if c != id_col]
    buckets = rows.select(
        *rows.columns, F.posexplode(keys).alias("_band", "_key")
    ).repartition("_band", "_key")
    if max_band_size is not None:
        buckets = (
            buckets.withColumn("_bs", F.count(F.lit(1)).over(Window.partitionBy("_band", "_key")))
            .filter(F.col("_bs") <= max_band_size)
            .drop("_bs")
        )

    def side(s: str) -> DataFrame:
        return buckets.select(F.col(id_col).alias(f"id_{s}"),
                              *[F.col(c).alias(f"{c}_{s}") for c in others], "_band", "_key")

    return (
        side("a").join(side("b"), ["_band", "_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .drop("_band", "_key")
    )


def _band_keys(num_hashes: int, bands: int) -> Column:
    """One key per band of the `sig` column: band index and its r =
    num_hashes / bands minhashes, hashed together."""
    if num_hashes % bands:
        raise ValueError(f"num_hashes={num_hashes} is not a multiple of bands={bands}")
    r = num_hashes // bands
    return F.array(*[
        F.xxhash64(F.lit(bi), *[F.col("sig")[bi * r + j] for j in range(r)])
        for bi in range(bands)
    ])


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    threshold: float = 0.7,
    seed: int = 42,
    max_band_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, est_jaccard >= threshold).

    banding: rows-per-band r = num_hashes/bands; a pair collides in a band
    iff that band's r minhashes all agree -> candidate. est_jaccard is the
    fraction of agreeing minhashes over the full signature. Rows with a
    null id never pair: they are dropped before signing and do not count
    toward a bucket's size.

    max_band_size caps hot buckets: a band bucket holding B docs yields
    B(B-1)/2 candidates, so one boilerplate cluster (every page sharing a
    footer) otherwise turns the self-join quadratic. Buckets above the cap
    are dropped before the join; a pair still pairs through any other band
    whose bucket is within the cap. NOTE the deliberate recall trade: a
    duplicate cluster LARGER than the cap collides into an over-cap bucket
    in EVERY band (identical signatures), so its pairwise output is
    suppressed entirely — that mass-duplicate blob is exactly what a 100 TB
    pipeline handles with exact-hash grouping (dedup_exact) or
    connected-components clustering, not O(B^2) pairs. The cap is OPT-IN
    (default None = exact recall, quadratic hot buckets and all) so the
    recall trade is never silently applied to an unsuspecting caller; scale
    pipelines pass e.g. max_band_size=1024 explicitly.
    """
    sigs = minhash_signatures(df.filter(F.col(id_col).isNotNull()), text_col, num_hashes, shingle_k, seed)
    # each candidate carries both signatures out of the self-join: the
    # estimate needs no join back to the signed rows
    pairs = _lsh_candidates(sigs.select(id_col, "sig"), id_col, _band_keys(num_hashes, bands), max_band_size)
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(float(num_hashes))
    return (
        pairs.withColumn("est_jaccard", F.round(est, 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
        .distinct()
    )


def simhash64(df: DataFrame, text_col: str = "text", out_col: str = "simhash") -> DataFrame:
    """64-bit SimHash over whitespace tokens (map-only pandas UDF)."""

    @F.pandas_udf(LongType())
    def _sim(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        for i, t in enumerate(texts):
            toks = (t or "").split()
            if not toks:
                continue
            hs = np.fromiter(
                (int.from_bytes(hashlib.blake2b(w.encode("utf-8"), digest_size=8).digest(), "big")
                 for w in toks),
                dtype=np.uint64, count=len(toks),
            )
            bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(np.int64)
            acc = (2 * bits - 1).sum(axis=0)
            val = np.uint64(0)
            for bit_idx in np.nonzero(acc > 0)[0]:
                val |= np.uint64(1) << np.uint64(int(bit_idx))
            out[i] = np.int64(val.astype(np.int64))
        return pd.Series(out)

    from stac_to_geocore_spark.partitioning import fan_out

    return fan_out(df).withColumn(out_col, _sim(F.col(text_col)))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    lsh_bands: int = 16,
    num_hashes: int = 64,
    seed: int = 42,
    max_band_size: int | None = None,
) -> DataFrame:
    """Exact token-n-gram Jaccard for LSH-candidate pairs only (filter via
    MinHash banding, verify exactly on the candidate subset). The grams
    join onto the candidates directly; no MinHash estimate is computed.
    The hot-band cap is opt-in and null ids never pair (see
    minhash_lsh_pairs)."""
    sigs = minhash_signatures(df.filter(F.col(id_col).isNotNull()), text_col, num_hashes, seed=seed)
    cand = _lsh_candidates(
        sigs.select(id_col, "sig"), id_col, _band_keys(num_hashes, lsh_bands), max_band_size
    ).select("id_a", "id_b").distinct()

    @F.pandas_udf(ArrayType(LongType()))
    def _gram_hashes(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = (t or "").split()
            gs = {" ".join(toks[i : i + n]) for i in range(max(1, len(toks) - n + 1))}
            out.append(
                np.fromiter(
                    (int.from_bytes(hashlib.blake2b(g.encode(), digest_size=8).digest(), "big") >> 1
                     for g in gs),
                    dtype=np.int64, count=len(gs),
                )
            )
        return pd.Series(out)

    from stac_to_geocore_spark.partitioning import fan_out

    grams = fan_out(df.select(id_col, text_col)).select(
        F.col(id_col).alias("gid"), _gram_hashes(F.col(text_col)).alias("grams"))
    ga = grams.select(F.col("gid").alias("id_a"), F.col("grams").alias("g_a"))
    gb = grams.select(F.col("gid").alias("id_b"), F.col("grams").alias("g_b"))
    inter = F.size(F.array_intersect("g_a", "g_b"))
    union = F.size(F.array_union("g_a", "g_b"))
    return (
        cand.join(ga, "id_a").join(gb, "id_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def hamming_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "simhash",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by Hamming distance on a 64-bit fingerprint column
    (SimHash, image pHash, ...): id_a < id_b, hamming <= max_hamming.

    EXACT by pigeonhole, not probabilistic: the 64 bits split into `bands`
    contiguous words; two hashes within Hamming distance bands-1 must agree
    on at least one whole word, so the word-keyed equi-join (the only
    shuffle — (id, word) pairs, never payloads) is a complete candidate
    filter whenever max_hamming <= bands - 1. The refine is
    bit_count(a XOR b) in pure JVM column math.
    """
    if max_hamming > bands - 1:
        raise ValueError("pigeonhole guarantee needs max_hamming <= bands - 1")
    width = 64 // bands
    mask = (1 << width) - 1
    keys = df.select(
        F.col(id_col).alias("_id"),
        F.col(hash_col).alias("_h"),
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned(F.col(hash_col), i * width).bitwiseAND(F.lit(mask))
                for i in range(bands)
            ])
        ).alias("_band", "_word"),
    )
    a = keys.select(F.col("_id").alias("id_a"), F.col("_h").alias("h_a"), "_band", "_word")
    b = keys.select(F.col("_id").alias("id_b"), F.col("_h").alias("h_b"), "_band", "_word")
    return (
        a.join(b, ["_band", "_word"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .distinct()
    )
