"""Text analysis for training-data curation: token counting, quality
scoring, language-ID, document fingerprinting. All pure Catalyst
expressions (JVM-side, codegen'd) with exact DuckDB oracle twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: language marker words for the n-gram/stopword heuristic.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "is"],
    "es": ["el", "la", "de", "y", "es"],
    "fr": ["le", "la", "de", "et", "est"],
    "de": ["der", "die", "das", "und", "ist"],
}

STOPWORDS = sorted({w for ws in LANG_MARKERS.values() for w in ws})

#: BPE-ish tokenizer regex: words, numbers, or single non-space symbols.
BPE_REGEX = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def token_stats(docs: DataFrame) -> DataFrame:
    """(doc_id, n_ws_tokens, n_bpe_tokens, n_chars_measured)."""
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_REGEX), 0)).alias(
            "n_bpe_tokens"
        ),
        F.length("text").alias("n_chars_measured"),
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """Heuristic quality features: length, punctuation ratio, stopword
    ratio, mean word length — rounded doubles for oracle stability."""
    toks = F.split("text", " ")
    n_toks = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
    n_punct = F.length("text") - F.length(
        F.regexp_replace("text", r"[^\w\s]", "")
    )
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars_measured"),
        n_toks.alias("n_tokens"),
        F.round(n_stop / n_toks, 6).alias("stopword_ratio"),
        F.round(n_punct / F.length("text"), 6).alias("punct_ratio"),
        F.round(
            (F.length("text") - n_toks + 1) / n_toks, 6
        ).alias("mean_word_len"),
    )


def language_id(docs: DataFrame) -> DataFrame:
    """Marker-word voting: language with the most marker hits; ties and
    zero hits → 'und'. Deterministic tie-break by language code order."""
    toks = F.split("text", " ")
    hits = {
        lang: F.size(F.filter(toks, lambda t: t.isin(ws)))
        for lang, ws in sorted(LANG_MARKERS.items())
    }
    best = F.greatest(*hits.values())
    pred = F.lit("und")
    # reversed so the FIRST language in code order wins ties
    for lang in sorted(hits, reverse=True):
        pred = F.when((hits[lang] > 0) & (hits[lang] == best), lang).otherwise(
            pred
        )
    return docs.select("doc_id", pred.alias("lang_pred"))


def fingerprints(docs: DataFrame) -> DataFrame:
    """Order-insensitive content fingerprint: md5 over the sorted
    distinct token set — robust to token reordering, the cheap
    near-dup pre-filter."""
    return docs.select(
        "doc_id",
        F.md5(
            F.array_join(
                F.array_sort(F.array_distinct(F.split("text", " "))), " "
            )
        ).alias("fingerprint"),
    )


#: PII patterns — RE2-safe (no backrefs/lookarounds) so Java regex and
#: DuckDB's RE2 agree byte-for-byte on matches.
EMAIL_REGEX = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_REGEX = r"https?://[^ ]+"


def scrub_pii(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails and URLs (the minimum-viable PII pass a
    training-data pipeline runs before publication) and count what was
    removed per document — counts are the audit trail, redaction order
    is emails first so URL redaction can't consume an email's domain.

    Narrow (no shuffle): two regexp_replace + two regexp_count per row,
    all JVM-side. Returns (doc_id, text_scrubbed, n_emails, n_urls).
    """
    t = F.col(text_col)
    n_emails = F.regexp_count(t, F.lit(EMAIL_REGEX)).cast("long")
    no_email = F.regexp_replace(t, EMAIL_REGEX, "<EMAIL>")
    n_urls = F.regexp_count(no_email, F.lit(URL_REGEX)).cast("long")
    scrubbed = F.regexp_replace(no_email, URL_REGEX, "<URL>")
    return docs.select(
        "doc_id",
        scrubbed.alias("text_scrubbed"),
        n_emails.alias("n_emails"),
        n_urls.alias("n_urls"),
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Intra-document repetition signals (the Gopher / RefinedWeb
    quality-filter family): duplicate word-bigram fraction and the
    most-frequent-token share. High values flag boilerplate, template
    spam, and generation loops — documents a pretraining mix drops.

    Bigram dedup is per-row Catalyst (array ops, no shuffle); the
    top-token share needs per-(doc, token) counts — explode + two
    partial-aggregated shuffles keyed by doc_id, embarrassingly
    parallel at any corpus size.
    """
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    # n-1 bigrams for n>=2 tokens; a 1-token doc degenerates to the
    # token itself (concat_ws skips the null neighbor) — the DuckDB
    # twin indexes 1-based past the end to the same effect
    bigrams = toks.select(
        "doc_id",
        F.size("t").alias("n_tokens"),
        F.expr(
            "transform(sequence(0, greatest(size(t) - 2, 0)),"
            " i -> concat_ws(' ', t[i], t[i + 1]))"
        ).alias("bg"),
    ).select(
        "doc_id",
        "n_tokens",
        F.round(
            1 - F.size(F.array_distinct("bg")) / F.size("bg"), 6
        ).alias("dup_bigram_ratio"),
    )
    top = (
        toks.select("doc_id", F.explode("t").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            # sum(c) = token count, so no need to carry it through
            F.round(F.max("c") / F.sum("c"), 6).alias("top_token_share")
        )
    )
    return bigrams.join(top, "doc_id")


def tfidf_top_terms(docs: DataFrame, k: int = 3) -> DataFrame:
    """(doc_id, term, tf, score, rank): the top-``k`` TF-IDF terms per
    document — the classic keyword / topic signal a curation pipeline
    uses for domain tagging and stratified mix design.

    tf = term count within the doc; idf = ln((N+1)/(df+1)) with df =
    number of docs containing the term (+1 smoothing keeps corpus-wide
    terms finite). score = ROUND(tf·idf, 6) — rounded BEFORE ranking so
    the order (score desc, term asc) is engine-stable.

    All Catalyst: explode → two partial-aggregated shuffles (by
    (doc, term) then by term) → one term-keyed join → per-doc window.
    N arrives as a broadcast 1-row aggregate, not a driver count, so
    the plan is a single job. The df table is joined, not broadcast by
    hand: vocabulary ∝ corpus, Catalyst/AQE picks the strategy.
    """
    from pyspark.sql import Window

    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1) / (F.col("df") + 1)),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "score", "rank")
    )


def _tokens(docs: DataFrame, *keep: str) -> DataFrame:
    """(doc_id, *keep, _t, _n): each doc's whitespace tokens and their
    count."""
    return docs.select(
        "doc_id", *keep, F.split("text", " ").alias("_t")
    ).withColumn("_n", F.size("_t"))


def _bigrams(toks: DataFrame) -> DataFrame:
    """(doc_id, *keep, w1, w2) from :func:`_tokens`: every adjacent
    token pair by slice+zip (narrow, no self-join); docs with < 2
    tokens carry none."""
    keep = [c for c in toks.columns if c not in ("_t", "_n")]
    return (
        toks.where(F.col("_n") >= 2)
        .select(
            *keep,
            F.explode(
                F.arrays_zip(
                    F.slice("_t", 1, F.col("_n") - 1).alias("w1"),
                    F.slice(F.col("_t"), 2, F.col("_n") - 1).alias("w2"),
                )
            ).alias("_p"),
        )
        .select(*keep, F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
    )


def _with_bigram_model(
    bg: DataFrame, train: DataFrame, c12: str, c1: str, how: str = "inner"
) -> DataFrame:
    """``bg`` joined (``how``) to the add-one bigram model's counts over
    the ``train`` bigrams: ``c12`` = c(w1,w2) from ONE
    partial-aggregated (w1,w2) exchange, ``c1`` = c(w1·) summed from
    that vocabulary-sized model table itself, not the corpus."""
    model = train.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias(c12))
    starts = model.groupBy("w1").agg(F.sum(c12).alias(c1))
    return bg.join(model, ["w1", "w2"], how).join(starts, "w1", how)


def _vocab(toks: DataFrame, name: str) -> DataFrame:
    """1 row: ``name`` = distinct tokens over :func:`_tokens` rows."""
    return toks.select(F.explode("_t").alias("_w")).agg(
        F.count_distinct("_w").alias(name)
    )


def bigram_lm_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, avg_logp): score every document by the mean
    log-probability of its word bigrams under an add-one-smoothed
    bigram model trained on the corpus itself — the CCNet-style
    perplexity filter (docs far below the corpus mean read as
    boilerplate/gibberish; far above as degenerate repetition), built
    entirely in Catalyst instead of an external KenLM.

    P(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V), with c(w1·) summed over
    observed bigram starts and V = corpus vocabulary size (a 1-row
    broadcast aggregate, like tfidf's N). Docs with < 2 tokens carry
    no bigrams and are omitted.

    Plan: bigrams come from slice+zip on the token array (narrow, no
    self-join), then ONE exchange keyed by (w1,w2) builds the model
    with partial aggregation, the per-start totals derive from the
    model table itself (vocabulary-sized, not corpus-sized), and
    scoring re-joins docs' bigrams to the model on the same (w1,w2)
    key. avg_logp is ROUND(,6): each addend is an exact same-input
    double on both engines; the 1e-13-scale summation-order drift of
    the mean sits 7 orders below the rounding step.
    """
    toks = _tokens(docs)
    bg = _bigrams(toks)
    scored = (
        _with_bigram_model(bg, bg, "c12", "c1")
        .crossJoin(F.broadcast(_vocab(toks, "v")))
        .select(
            "doc_id",
            F.log(
                (F.col("c12") + 1) / (F.col("c1") + F.col("v"))
            ).alias("_lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("_lp"), 6).alias("avg_logp"),
    )


def postings(docs: DataFrame, min_df: int | None = None) -> DataFrame:
    """(term, doc_id, tf, positions): the positional inverted index as
    a posting TABLE — the primitive under phrase search, n-gram
    decontamination, and the AllPairs prefix filter (which consumes
    exactly these posting lists). ``positions`` is the 0-based token
    offsets of the term in the doc, ascending, comma-joined — a scalar
    string so cross-engine comparison is order-exact without array
    hashing.

    Rows, not per-term arrays: a collect_list-of-all-docs per term
    rebuilds the hot-key problem (a stopword's posting list is
    corpus-sized in ONE aggregation buffer); the row form keeps every
    operator partial-aggregated and lets consumers range-prune by
    term. Plan: posexplode (narrow) → ONE exchange keyed (term,
    doc_id) building tf + sorted positions → optional document-
    frequency filter as a window count over the term key (``min_df``
    drops hapax noise without a second self-join).
    """
    from pyspark.sql import Window

    tok = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos", "term"),
    )
    pl = tok.groupBy("term", "doc_id").agg(
        F.count(F.lit(1)).alias("tf"),
        F.array_join(F.sort_array(F.collect_list("pos")), ",").alias(
            "positions"
        ),
    )
    if min_df is not None:
        w = Window.partitionBy("term")
        pl = (
            pl.withColumn("_df", F.count(F.lit(1)).over(w))
            .where(F.col("_df") >= min_df)
            .drop("_df")
        )
    return pl.select("term", "doc_id", "tf", "positions")


def heavy_hitters(docs: DataFrame, k: int = 20) -> DataFrame:
    """(term, df): the k terms with the highest document frequency —
    exact heavy hitters, ties broken by term ascending. The corpus
    vocabulary report every curation pass starts from (stopword
    discovery, boilerplate detection, tokenizer sanity).

    Exact, not sketched: document frequency is one partial-aggregated
    count, so the "approximate top-k" machinery (count-min + heap)
    buys nothing on a shuffle engine — map-side combine already
    collapses each partition's vocabulary before the exchange, and the
    final top-k is TakeOrderedAndProject (k rows per partition to the
    driver, never the full term table). distinct (doc_id, term) before
    counting makes it document frequency, not collection frequency —
    that distinct rides the SAME exchange as the count (term ⊂
    (doc_id, term) lets Catalyst reuse the partitioning).
    """
    from pyspark.sql import Window

    df_counts = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    w = Window.orderBy(F.col("df").desc(), F.col("term").asc())
    return (
        df_counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .drop("rk")
    )


def dsir_weights(docs: DataFrame, target_source: str) -> DataFrame:
    """(doc_id, n_bigrams, dsir_weight): per-document importance
    weight for data selection — the mean log-likelihood RATIO of the
    doc's word bigrams under a TARGET bigram model (docs whose
    ``source`` equals ``target_source``) vs the corpus model, DSIR's
    hashed-ngram importance resampling reduced to exact bigrams
    (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling" — public method). Positive weight = reads
    like the target domain; resample/threshold on it to tilt a
    100 TB corpus toward a target distribution without training a
    classifier.

    Both models are add-one smoothed like bigram_lm_scores; the
    target side joins LEFT with coalesce(0) so bigrams unseen in the
    target get the smoothed floor 1/(0+V_t) instead of silently
    dropping (an inner join would skew weights toward docs sharing
    the target's vocabulary — exactly the bias the smoothing exists
    to avoid). Plan: bigrams are narrow slice+zip; each model is ONE
    partial-aggregated (w1,w2) exchange over its slice of the corpus;
    scoring is two equi-joins on (w1,w2) against vocabulary-sized
    tables plus two 1-row broadcast vocab aggregates; the final
    per-doc mean is one doc_id-keyed exchange. dsir_weight is
    ROUND(,6) of a mean of exact same-input doubles — engine-stable
    like avg_logp.
    """
    toks = _tokens(docs, "source")
    # fail fast on an empty target slice: tv would be 0, making the
    # target denominator 0 — log(x/0) is inf/NULL (or an ANSI error),
    # which would silently poison every weight instead of pointing at
    # the actual mistake (a typo'd source name). One limit(1) probe on
    # a pushed-down predicate, paid once at call time.
    if (
        docs.where(F.col("source") == target_source).limit(1).count() == 0
    ):
        raise ValueError(
            f"dsir_weights: no documents with source={target_source!r} — "
            "the target bigram model would be empty (vocab 0)"
        )
    bg = _bigrams(toks)
    is_tgt = F.col("source") == target_source
    # vocab rides the ALREADY-SPLIT token frame (toks has every doc —
    # the n>=2 filter applies only to bg), not a second scan+split of
    # the text column (review finding r4)
    scored = (
        _with_bigram_model(
            _with_bigram_model(bg, bg, "c12", "c1"),
            bg.where(is_tgt),
            "t12",
            "t1",
            how="left",
        )
        .crossJoin(F.broadcast(_vocab(toks, "v")))
        .crossJoin(F.broadcast(_vocab(toks.where(is_tgt), "tv")))
        .select(
            "doc_id",
            (
                F.log(
                    (F.coalesce(F.col("t12"), F.lit(0)) + 1)
                    / (F.coalesce(F.col("t1"), F.lit(0)) + F.col("tv"))
                )
                - F.log(
                    (F.col("c12") + 1) / (F.col("c1") + F.col("v"))
                )
            ).alias("_lr"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("_lr"), 6).alias("dsir_weight"),
    )


def winnow_fingerprints(
    docs: DataFrame, k: int = 3, window: int = 4
) -> DataFrame:
    """(doc_id, fp): winnowing document fingerprints — the
    rolling-hash scheme (Schleimer, Wilkerson, Aiken, SIGMOD'03 /
    MOSS; public method): hash every k-token gram with a sliding
    window of the token stream, then keep the MINIMUM hash of each
    ``window`` consecutive grams, dedup per document. Guarantees any
    shared run of ≥ k+window-1 tokens between two documents shares at
    least one fingerprint — the local near-dup/plagiarism primitive
    that token-SET fingerprints (``fingerprints``) can't give, since
    those lose all locality.

    The hash slides positionally (gram at every token offset); md5 of
    the joined gram rather than a Rabin-Karp incremental polynomial —
    on a vectorized engine the O(k) rehash per position is a constant
    inside one codegen stage, and md5 is the hash DuckDB computes
    byte-identically (lexicographic MIN over hex strings is the
    window minimum on both engines). Plan: posexplode grams (narrow),
    ONE doc_id-keyed window for the sliding min (bounded
    ``window``-row frame), then the distinct's exchange — no joins,
    no Python. Docs shorter than k+window-1 tokens emit nothing
    (no full window exists).
    """
    from pyspark.sql import Window

    toks = _tokens(docs)
    grams = (
        toks.where(F.col("_n") >= k)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.col("_n") - k + 1),
                    lambda i: F.md5(
                        F.array_join(F.slice("_t", i, k), " ")
                    ),
                )
            ).alias("pos", "h"),
        )
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(window - 1), 0)
    )
    return (
        grams.withColumn("_fp", F.min("h").over(w))
        .where(F.col("pos") >= window - 1)  # full windows only (pos 0-based)
        .select("doc_id", F.col("_fp").alias("fp"))
        .distinct()
    )
