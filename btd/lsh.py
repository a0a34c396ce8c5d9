"""The shared-key pair kernel and MinHash-LSH banding.

``key_pairs`` is the one "pairs of ids through a shared key" kernel
behind LSH blocking, document near-dup, basket co-occurrence and link
prediction; ``_purge_hot_keys`` is the one oversized-key purge (block
purging) in front of it and on two_hop_reach's mid node. A hot key
holding m ids is m²/2 pairs in one task — AQE's skew split keys on
input bytes, which a posting list never reaches.

MinHash is hand-rolled rather than pyspark.ml MinHashLSH so hashes are
deterministic across runs/engines (md5-based, no seeded JVM RNG) and
there is no MLlib/Vector dependency — every step is DataFrame ops that
whole-stage-codegen, and the DuckDB oracles reproduce the signatures
and band keys byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

NUM_HASHES = 8
BAND_SIZE = 2  # 4 bands × 2 rows


def minhash_bands(shingles: DataFrame, id_col: str) -> DataFrame:
    """shingles(id_col, shingle) → (id_col, band_key), one row per band.

    min-hash_i = MIN over shingles of md5(i || shingle): one groupBy
    with k partial-aggregated mins — a single shuffle keyed on the id
    regardless of k. Band key b = md5("b|sig|sig") over the band's
    BAND_SIZE signature rows.
    """
    sigs = shingles.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(
                f"sig_{i}"
            )
            for i in range(NUM_HASHES)
        ]
    )
    keys = [
        F.md5(
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[F.col(f"sig_{b * BAND_SIZE + r}") for r in range(BAND_SIZE)],
            )
        )
        for b in range(NUM_HASHES // BAND_SIZE)
    ]
    return sigs.select(id_col, F.explode(F.array(*keys)).alias("band_key"))


def _purge_hot_keys(
    df: DataFrame, key: str, max_size: int | None
) -> DataFrame:
    """``df`` plus ``_n``, its row count per ``key`` (one window keyed on
    ``key``), with the rows of keys holding more than ``max_size``
    dropped (``None``: none dropped)."""
    sized = df.withColumn("_n", F.count(F.lit(1)).over(Window.partitionBy(key)))
    return sized if max_size is None else sized.where(F.col("_n") <= max_size)


def key_pairs(
    rows: DataFrame,
    key: str,
    id_col: str,
    max_key_size: int | None = None,
    adamic_adar: bool = False,
) -> DataFrame:
    """rows(key, id_col) → (id_a, id_b, n_shared[, w_sum]), id_a < id_b:
    every two ids sharing at least one key, once. ``n_shared`` counts
    the shared keys; with ``adamic_adar``, ``w_sum`` = Σ 1/ln(|key|)
    over them, |key| the key's row count. Both count rows, so a caller
    that reads them passes each (key, id) once (band keys are distinct
    per id by construction; cooccur takes the distinct first).

    Plan: with ``max_key_size`` or ``adamic_adar``, one exchange hashed
    on the key for the ``_purge_hot_keys`` size window, which drops keys
    holding more than ``max_key_size`` rows, and which the key
    self-join reuses; without them the join brings its own (none if
    the input is already hashed on the key); then one
    partial-aggregated group-by on the pair, hashed on the pair. Pair
    volume is Σ |key|² — bounded by key width, not corpus size.
    """
    m = rows.select(F.col(key).alias("_k"), F.col(id_col).alias("_i"))
    aggs = [F.count(F.lit(1)).alias("n_shared")]
    if max_key_size is not None or adamic_adar:
        m = _purge_hot_keys(m, "_k", max_key_size)
    if adamic_adar:
        aggs.append(F.sum(F.lit(1.0) / F.log("_n")).alias("w_sum"))
    other = m.select("_k", F.col("_i").alias("_j"))
    return (
        m.join(other, "_k")
        .where(F.col("_i") < F.col("_j"))
        .groupBy(F.col("_i").alias("id_a"), F.col("_j").alias("id_b"))
        .agg(*aggs)
    )
