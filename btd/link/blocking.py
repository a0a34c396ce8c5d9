"""Candidate-pair blocking: MinHash-LSH (btd.lsh) plus a name-token
blocker, pure Catalyst.

Pipeline: normalize surface → char-3gram shingles (explode) →
btd.lsh.minhash_bands → btd.lsh.key_pairs on the block key. A second,
cheap blocker on the last name-token catches person-name variants whose
shingle jaccard is too low for LSH (standard multi-pass blocking). Both
blockers' keys go through one key_pairs call, so hot blocks
(stopword-ish tokens) are purged by its ``max_key_size`` cap
(``max_block_size``) and each candidate pair comes out once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from btd.lsh import key_pairs, minhash_bands


def normalize(col):
    """Lowercase, strip punctuation, drop legal suffixes, squeeze spaces."""
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^a-z0-9 ]", "")
    c = F.regexp_replace(c, r"\b(corp|corporation|inc|llc|co|ltd)\b", "")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return c


def shingles(col, n: int = 3):
    """Distinct char n-grams of a (short) string, as an array column."""
    return F.array_distinct(
        F.expr(
            f"transform(sequence(0, greatest(length({col}) - {n}, 0)),"
            f" i -> substring({col}, i + 1, {n}))"
        )
    )


def candidate_pairs(
    entities: DataFrame, max_block_size: int | None = None
) -> DataFrame:
    """entities(entity_id, surface) → (id_a, id_b) candidate pairs,
    id_a < id_b, deduplicated across blockers.

    ``max_block_size``: block purging (standard entity-resolution
    block cleaning). A block key shared by more than K entities has no
    discriminative power — it pairs everything with everything, and
    its pair count grows quadratically with corpus growth (measured on
    the 10× probe corpus: the hottest minhash band went 97 → 806
    occupancy, total intra-block pairs 13.4k → 769k = 57× at 10×
    entities, dense numeric-ish surfaces being the driver). Dropping
    oversized blocks bounds per-entity candidate volume at
    (blocks-per-entity)·K — linear in n. Recall is protected by
    blocker redundancy: a true alias pair lost with a purged hot band
    is still generated by the name-token blocker (and vice versa);
    oracle parity at the gate corpus verifies exactness there (cap
    128 is a no-op below ~100-occupancy blocks). It is also the hot
    block answer: AQE's skew split keys on input bytes, which a hot
    block's posting list never reaches, so an unpurged block's pairs
    come out of one task (SCALE.md, "What breaks first").
    """
    ents = entities.withColumn("norm", normalize(F.col("surface")))

    # --- blocker 1: MinHash-LSH bands -------------------------------
    bands = minhash_bands(
        ents.select("entity_id", F.explode(shingles("norm")).alias("shingle")),
        "entity_id",
    )

    # --- blocker 2: last name-token ----------------------------------
    tokens = ents.select(
        "entity_id",
        F.concat(F.lit("tok:"), F.element_at(F.split("norm", " "), -1)).alias(
            "band_key"
        ),
    )

    return key_pairs(
        bands.unionByName(tokens), "band_key", "entity_id",
        max_block_size or None,
    ).select("id_a", "id_b")
