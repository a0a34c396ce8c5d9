"""MinHash-LSH: the one signature, banding and band self-join kernel
behind entity blocking (btd.link.blocking) and document near-dup
(btd.dataops.dedup). Callers differ only in their id column and how
they shingle.

Hand-rolled rather than pyspark.ml MinHashLSH so hashes are
deterministic across runs/engines (md5-based, no seeded JVM RNG) and
there is no MLlib/Vector dependency — every step is DataFrame ops that
whole-stage-codegen, and the DuckDB oracles reproduce the signatures
and band keys byte-for-byte.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
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


def band_pairs(
    bands: DataFrame, id_col: str, salt_hot_bands: int | None = None
) -> DataFrame:
    """bands(id_col, band_key) → distinct (id_a, id_b), id_a < id_b,
    for every two ids sharing a band key.

    ``salt_hot_bands``: replicate-salt the self-join over that many
    salts (btd.skew.salted_self_join) when a viral surface form or
    boilerplate text makes one band's posting list swamp a reducer
    past what AQE skew-split fixes; the result is identical either way.
    """
    if salt_hot_bands:
        from btd.skew import salted_self_join

        return salted_self_join(
            bands, "band_key", id_col, n_salts=salt_hot_bands
        )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, "band_key")
        .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
