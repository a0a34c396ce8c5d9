"""Document deduplication: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale notes (the point of each variant):
- exact: one hash-groupBy on md5(text) — shuffle keyed on digest, no
  skew (digests are uniform).
- n-gram Jaccard: exact pairwise similarity via shingle explode +
  equi-join on shingle — full recall, cost ~ sum of posting-list²; the
  quadratic baseline you run at small scale to validate the LSH path.
- MinHash-LSH (btd.lsh, shared with entity blocking): signatures in
  ONE groupBy (k partial mins), band pairs from the shared-key pair
  kernel btd.lsh.key_pairs — the 100 TB path;
  recall is probabilistic, precision restored by the same
  exact-jaccard verification as the n-gram path, on candidates only.
- SimHash: 64-bit fingerprint via vectorized pandas UDF (bit ops are
  Python/numpy territory), near-dup = equal band keys (same
  key_pairs kernel as MinHash).

Hashes are md5-derived so the DuckDB oracle can reproduce them
byte-for-byte.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from btd.lsh import key_pairs, minhash_bands

# ---------------------------------------------------------------- exact


def exact_dedup(docs: DataFrame) -> DataFrame:
    """One row per distinct text: keeper = min doc_id, plus group size."""
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ------------------------------------------------------- word shingles


def word_shingles(col: str = "text", n: int = 3):
    """Distinct word n-gram shingles of a text column (array<string>).

    The token array is bound ONCE via a single-element-array transform
    (a lambda-scoped let): higher-order functions are interpreted and
    don't share subexpressions, so referencing ``split(text)`` inside
    the position lambda would re-split the text 3× per position —
    measured 20× slower on ~300-word docs.
    """
    idx = ", ".join(f"get(toks, i + {j})" for j in range(n))
    return F.array_distinct(
        F.expr(
            f"flatten(transform(array(split({col}, ' ')), toks ->"
            f" transform(sequence(0, greatest(size(toks) - {n}, 0)),"
            f" i -> concat_ws(' ', {idx}))))"
        )
    )


def _with_shingles(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", word_shingles().alias("sh"))


def _jaccard_verified(
    cands: DataFrame, sh: DataFrame, threshold: float
) -> DataFrame:
    """Candidate (id_a, id_b) pairs with their exact shingle-set Jaccard
    (ROUND 6), kept at >= threshold — the one verification step behind
    both the exact and the LSH near-dup paths."""
    sa = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("n_shared", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_shared")
                / (F.size("sh_a") + F.size("sh_b") - F.col("n_shared")),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ------------------------------------------------- exact n-gram jaccard


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """All pairs (id_a < id_b) with shingle-set Jaccard >= threshold.

    Exact prefix-filtered index join (AllPairs/PPJoin family): under a
    global rarest-first shingle order, any pair with J >= t shares at
    least one shingle inside each side's first ``n - ceil(t*n) + 1``
    shingles, so only those prefix postings are self-joined; candidates
    are then verified against the full shingle sets. Full recall like
    the naive inverted-index join, but hot shingles (the quadratic
    posting lists) fall out of the prefixes — at 100 TB the join cost
    tracks rare-shingle co-occurrence, not stopword n-gram frequency.
    The self-join stays here rather than in btd.lsh.key_pairs because
    its length filter is a join predicate: the prefix postings run
    through the kernel (no length filter) gave the same rows but were
    slower at sf0.1 on local[4] (pair medians 8.96 s vs 8.0 s).
    """
    from pyspark.sql import Window

    sh = _with_shingles(docs)
    ex = sh.select(
        "doc_id", F.size("sh").alias("n"), F.explode("sh").alias("shingle")
    )
    doc_freq = ex.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "shingle")
    prefix = (
        ex.join(doc_freq, "shingle")
        .withColumn("rn", F.row_number().over(w))
        .where(
            # epsilon before ceil: IEEE t*n can land just ABOVE an
            # integer it mathematically equals (0.55*20 =
            # 11.000000000000002), which would shorten the prefix by 1
            # and silently lose qualifying pairs
            F.col("rn")
            <= F.col("n")
            - F.ceil(F.lit(threshold) * F.col("n") - F.lit(1e-9))
            + 1
        )
        .select("doc_id", "n", "shingle")
    )
    # length filter (exact): J >= t forces min(n)/max(n) >= t, so pairs
    # whose shingle-set sizes differ too much never reach verification.
    # Same epsilon guard as the prefix bound (t*n can land a hair above
    # the integer it equals).
    eps = 1e-9
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "shingle")
        .where(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n") >= F.lit(threshold) * F.col("a.n") - eps)
            & (F.col("a.n") >= F.lit(threshold) * F.col("b.n") - eps)
        )
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    return _jaccard_verified(cand, sh, threshold)


# --------------------------------------------------------- minhash-LSH


def minhash_candidates(docs: DataFrame) -> DataFrame:
    """LSH banding (btd.lsh): candidate pairs sharing >= 1 band key."""
    ex = _with_shingles(docs).select("doc_id", F.explode("sh").alias("shingle"))
    return key_pairs(minhash_bands(ex, "doc_id"), "band_key", "doc_id").select(
        "id_a", "id_b"
    )


def minhash_near_dup(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """LSH candidates verified with exact shingle Jaccard >= threshold."""
    return _jaccard_verified(
        minhash_candidates(docs), _with_shingles(docs), threshold
    )


def near_dup_groups(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Corpus-level near-duplicate clustering — the end-to-end operator
    a dedup pipeline actually runs: MinHash-LSH candidate pairs
    (exact-Jaccard-verified at ``threshold``) → connected components →
    deterministic keeper election (min doc_id per component). Every doc
    appears once with its keeper; singletons keep themselves.

    Near-dup similarity is not transitive, so pair output alone
    under-deletes (A~B, B~C but A≁C still form one group whose members
    are mutual near-dups of the keeper's lineage); grouping is the
    standard resolution. Composition of two scale paths: bucketed pair
    generation (:func:`minhash_near_dup`) and label-propagation
    connected components with checkpoint hygiene
    (btd.link.canonical.connected_components — the same machinery as
    entity canonicalization; components are near-dup clusters, so
    diameter and the iteration count stay small).
    """
    from btd.link.canonical import connected_components

    pairs = minhash_near_dup(docs, threshold)
    nodes = docs.select(F.col("doc_id").alias("entity_id"))
    labels = connected_components(nodes, pairs.select("id_a", "id_b"))
    return labels.select(
        F.col("entity_id").alias("doc_id"),
        F.col("canonical_id").alias("keep_doc_id"),
    )


# -------------------------------------------------------------- simhash


@F.pandas_udf(T.LongType())
def _simhash64(texts: Iterator[pd.Series]) -> Iterator[pd.Series]:
    # 64-bit SimHash over word tokens; token weights = 1. Bit i of the
    # fingerprint = sign of sum over tokens of (bit i of md5(token)).
    # Token hashes are memoized across the whole partition (natural
    # text has a Zipfian vocabulary — most md5 calls would be repeats)
    # and the bit-tally is a single numpy pass per document.
    import hashlib

    import numpy as np

    memo: dict[str, np.ndarray] = {}
    shifts = np.arange(64, dtype=np.uint64)

    def tok_bits(t: str) -> np.ndarray:
        b = memo.get(t)
        if b is None:
            (h,) = np.frombuffer(
                hashlib.md5(t.encode()).digest()[:8], dtype=">u8"
            )
            b = ((h >> shifts) & np.uint64(1)).astype(np.int64)
            memo[t] = b
        return b

    def fp(text: str) -> int:
        toks = text.split(" ")
        if not toks:
            return 0
        bits = np.zeros(64, dtype=np.int64)
        for t in toks:
            bits += tok_bits(t)
        v = (bits * 2 > len(toks)).astype(np.uint64)
        return int((v << shifts).sum().astype(np.int64))

    for batch in texts:
        yield batch.map(fp).astype("int64")


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", _simhash64(F.col("text")).alias("simhash"))


def simhash_near_dup(docs: DataFrame, band_bits: int = 16) -> DataFrame:
    """Near-dup candidates: equal 16-bit band of the 64-bit simhash in
    any of 4 bands (classic Hamming-distance blocking)."""
    fps = simhash_fingerprints(docs)
    n_bands = 64 // band_bits
    mask = (1 << band_bits) - 1
    bands = fps.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.concat(
                        F.lit(f"{i}:"),
                        (
                            F.shiftrightunsigned("simhash", i * band_bits)
                            .bitwiseAND(F.lit(mask))
                        ).cast("string"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("band_key"),
    )
    return key_pairs(bands, "band_key", "doc_id").select("id_a", "id_b")


def winnow_near_dup(
    docs: DataFrame,
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_fp_df: int | None = None,
) -> DataFrame:
    """(doc_id_a, doc_id_b, n_shared): document pairs sharing at least
    ``min_shared`` winnowing fingerprints — MOSS's match step, the
    LOCAL-overlap detector the dedup family otherwise lacks: a shared
    ≥ k+window-1 token run inside two otherwise-different documents is
    GUARANTEED to share a fingerprint here (winnowing's covering
    property) but is invisible to whole-document MinHash at any
    realistic Jaccard threshold (the run is diluted by the rest of
    both documents). Plagiarism, quotation, and boilerplate-block
    detection at corpus scale.

    Pure composition: winnow_fingerprints (one bounded-frame window +
    a distinct) feeding the shared-key pair kernel (btd.lsh.key_pairs,
    via basket_cooccurrence) with key = fingerprint, id = doc_id — so
    pair volume is Σ df(fp)² over fingerprint document-frequencies,
    and a boilerplate fingerprint shared by half the corpus is exactly
    the hot key ``max_fp_df`` purges before pairing (near-zero signal,
    quadratic cost — the same judgment as stopword lists).
    """
    from btd.analytics.cooccur import basket_cooccurrence
    from btd.dataops.textstats import winnow_fingerprints

    fp = winnow_fingerprints(docs, k=k, window=window)
    return basket_cooccurrence(
        fp,
        basket="fp",
        item="doc_id",
        min_shared=min_shared,
        max_basket_size=max_fp_df,
    ).select(
        F.col("item_a").alias("doc_id_a"),
        F.col("item_b").alias("doc_id_b"),
        F.col("n_baskets").alias("n_shared"),
    )
