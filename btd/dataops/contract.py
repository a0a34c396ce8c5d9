"""Driver-contract wiring for the training-data ops: queries() entries
plus DuckDB oracle twins (merged into __spark_entry__).

Near-dup queries plant duplicates IN-QUERY (union of documents with
perturbed/exact copies) because the raw testdata documents are all
distinct — the plant is expressed identically in Spark and SQL, so the
oracle stays exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from btd.dataops.dedup import (
    exact_dedup,
    minhash_near_dup,
    ngram_jaccard_pairs,
    simhash_near_dup,
)
from btd.dataops.similarity import (
    auto_lsh_bits,
    auto_nlist,
    auto_semdedup_nlist,
    blas_near_dup,
    blas_topk,
    lsh_near_dup,
    lsh_topk,
)
from btd.dataops.textstats import (
    fingerprints,
    language_id,
    quality_scores,
    token_stats,
)

# ---------------------------------------------------------------- inputs


def _docs(spark: SparkSession, sf: str) -> DataFrame:
    return spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")


def docs_with_dups(spark: SparkSession, sf: str) -> DataFrame:
    """documents ∪ near-copies (first word dropped, id+100000 for
    doc_id%10=0) ∪ exact copies (id+200000 for doc_id%20=0)."""
    base = _docs(spark, sf)
    near = base.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.expr("substring(text, instr(text, ' ') + 1)").alias("text"),
    )
    exact = base.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text"
    )
    return base.unionByName(near).unionByName(exact)


DOCS_PLUS_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 100000 AS doc_id, substr(text, strpos(text, ' ') + 1) AS text
FROM documents WHERE doc_id % 10 = 0
UNION ALL
SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 20 = 0
"""

#: shared SQL fragments for the shingle/minhash oracle
_SHINGLES_SQL = """
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM docs_plus),
sh AS (SELECT doc_id,
              list_distinct(list_transform(
                  range(0, greatest(len(t) - 3, 0) + 1),
                  i -> concat_ws(' ', t[i + 1], t[i + 2], t[i + 3]))) AS s
       FROM toks)
"""

# ---------------------------------------------------------------- queries


def _q_exact_dedup(spark, sf):
    return exact_dedup(docs_with_dups(spark, sf))


def _q_ngram_jaccard(spark, sf):
    return ngram_jaccard_pairs(docs_with_dups(spark, sf), 0.5)


def _q_minhash_near_dup(spark, sf):
    return minhash_near_dup(docs_with_dups(spark, sf), 0.5)


def _q_simhash_near_dup(spark, sf):
    return simhash_near_dup(docs_with_dups(spark, sf))


def _q_dedup_groups(spark, sf):
    """End-to-end near-dup clustering (pairs → connected components →
    keeper election). The oracle computes the exact transitive closure
    of the same verified pair set with a recursive CTE, so the CC
    composition is hash-gated exactly — including the corpus's natural
    (non-planted) near-dup pairs that make components non-cliques."""
    from btd.dataops.dedup import near_dup_groups

    return near_dup_groups(docs_with_dups(spark, sf), 0.5)


def _q_winnow_near_dup(spark, sf):
    """MOSS-style partial-overlap pairs over the planted corpus: the
    near-copies (first word dropped) share long token runs with their
    originals, so winnowing's covering property guarantees shared
    fingerprints even where whole-doc Jaccard would be diluted."""
    from btd.dataops.dedup import winnow_near_dup

    return winnow_near_dup(
        docs_with_dups(spark, sf), k=3, window=4, min_shared=2
    )


def _q_token_stats(spark, sf):
    return token_stats(_docs(spark, sf))


def _q_quality(spark, sf):
    return quality_scores(_docs(spark, sf))


def _q_lang_id(spark, sf):
    return language_id(_docs(spark, sf))


def _q_fingerprints(spark, sf):
    return fingerprints(_docs(spark, sf))


def _q_repetition(spark, sf):
    """Repetition-filter gate: every 13th doc gets its text doubled
    IN-QUERY (expressed identically in the SQL twin), so the operator
    must flag exactly those docs with a dup-bigram ratio jump while
    natural docs keep their organic values."""
    from btd.dataops.textstats import repetition_stats

    base = _docs(spark, sf)
    planted = base.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat_ws(" ", F.col("text"), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return repetition_stats(planted)


REPETITION_SQL = """
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN text || ' ' || text
              ELSE text END AS text
  FROM documents),
t AS (SELECT doc_id, string_split(text, ' ') AS t FROM planted),
bg AS (SELECT doc_id, len(t) AS n_tokens,
              list_transform(range(0, greatest(len(t) - 1, 1)),
                  i -> concat_ws(' ', t[i + 1], t[i + 2])) AS bg
       FROM t),
b AS (SELECT doc_id, n_tokens,
             ROUND(1 - len(list_distinct(bg)) * 1.0 / len(bg), 6)
                 AS dup_bigram_ratio
      FROM bg),
tc AS (SELECT doc_id, tok, COUNT(*) AS c
       FROM (SELECT doc_id, unnest(t) AS tok FROM t) GROUP BY doc_id, tok),
tt AS (SELECT doc_id, ROUND(MAX(c) * 1.0 / SUM(c), 6) AS top_token_share
       FROM tc GROUP BY doc_id)
SELECT b.doc_id, CAST(b.n_tokens AS INTEGER) AS n_tokens,
       b.dup_bigram_ratio, tt.top_token_share
FROM b JOIN tt USING (doc_id)
"""


def _emb(spark, sf):
    return spark.read.parquet(f"{sf}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


GATE_SF_DIR = "/root/testdata/sf0.01"


def _gate_corpus_n() -> int:
    """Vector count of the DRIVER'S correctness-gate corpus (the driver
    compares queries() against oracle_sql() at sf0.01). The ANN oracle
    twins must unroll exactly the bucket layout the auto-sizing rules
    hand Spark on that corpus; deriving n here (a parquet-footer read,
    no Spark) keeps oracle and query in lockstep BY CONSTRUCTION even
    if the gate testdata is regenerated at a different size — the
    previous inlined constants (bits=4, nlist=22) would have silently
    desynced (ADVICE r2). The Spark queries auto-size from whatever
    corpus they are handed, so bench runs at sf0.1/sf1 keep their
    scale-linear layouts without consulting this."""
    try:
        import pyarrow.parquet as pq

        return pq.ParquetFile(
            f"{GATE_SF_DIR}/embeddings.parquet"
        ).metadata.num_rows
    except Exception:
        # importable without the testdata mount (fresh clone): the
        # historical gate size; the driver environment always has it
        return 500


def _q_emb_near_dup(spark, sf):
    """Scale-path near-dup gate: LSH-bucketed candidate gen scored
    bucket-locally with the threshold pushed into the kernel — zero
    full-matrix collect anywhere in the plan. The oracle replicates the
    deterministic bucketing exactly (same hyperplanes, same auto-sized
    bit width), so the approximate operator is hash-gated exactly;
    blas_near_dup stays gated as the labeled exact baseline
    (emb_cosine_near_dup_exact) and the recall floor vs it is
    pytest-asserted."""
    return lsh_near_dup(_emb(spark, sf), dim=64, threshold=0.45, n_tables=8)


def _q_emb_near_dup_exact(spark, sf):
    # the labeled EXACT baseline (broadcast-BLAS kernel; documented
    # broadcast ceiling ~10^7 × 10^2, equal to a Catalyst fold-per-pair
    # reference in tests); emb_cosine_near_dup above is the bucketed
    # 100 TB path
    return blas_near_dup(_emb(spark, sf), 0.45)


def _q_emb_brute_topk(spark, sf):
    # exact top-k via the BLAS kernel (equal to a Catalyst fold-per-pair
    # reference in tests)
    return blas_topk(_emb(spark, sf), 3)


def _q_emb_lsh_topk(spark, sf):
    # bits auto-sizes to the handed corpus; the oracle twin derives
    # ITS inlined layout from the same rule at the gate corpus
    # (_gate_corpus_n), so the two can only agree — bench runs at
    # larger sf get scale-linear bucketing without touching the oracle
    return lsh_topk(_emb(spark, sf), dim=64, k=3, n_tables=8)


def _q_emb_ivf_topk(spark, sf):
    from btd.dataops.similarity import ivf_topk

    # nlist auto-sizes (sqrt(n) rule) to the handed corpus; the oracle
    # twin unrolls the same rule's value at the gate corpus. nprobe
    # pinned for the oracle
    return ivf_topk(_emb(spark, sf), k=3, n_iter=3, nprobe=4)


def _q_emb_cluster_sample(spark, sf):
    """Cluster-balanced downsample in the gate: the seedless IVF
    codebook (nlist auto-sized by the sqrt(n) rule on the handed
    corpus), Arrow-batched home assignment, ONE window shuffle keyed
    by cluster. The oracle unrolls the identical Lloyd iterations +
    keep window (``_ivf_cluster_sample_sql``) at the gate-corpus
    layout, so assignments agree by construction."""
    from btd.dataops.similarity import cluster_sample

    return cluster_sample(_emb(spark, sf), per_cluster=3, n_iter=3)


def _q_emb_pq_topk(spark, sf):
    """IVFADC approximate top-k in the gate: database vectors as
    8 six-bit codes (85x compression vs the 512-byte float64 vector)
    bucketed by their home IVF cluster, full-precision queries probing
    their 4 nearest clusters, bucket-local table-lookup scoring — no
    vector data on the driver anywhere in the plan (the r4 design's
    full-corpus collect is gone). The oracle unrolls the identical
    coarse Lloyd + per-subspace Lloyd + probe-restricted ADC in SQL;
    nprobe/n_clusters pin the ivf_topk-shared layout rules."""
    from btd.dataops.similarity import pq_topk

    return pq_topk(
        _emb(spark, sf), k=3, m=8, n_codes=64, n_iter=3, nprobe=4
    )


def _q_emb_recall(spark, sf):
    """ANN quality gate AS an operator: recall@3 of the LSH top-k path
    against the exact baseline, both built lazily and compared in ONE
    (query, neighbor) join + a 1-row rollup — never a driver-side
    result-list diff. The oracle composes the two existing SQL twins,
    so the three queries can only agree."""
    from btd.dataops.similarity import recall_at_k

    emb = _emb(spark, sf)
    return recall_at_k(
        lsh_topk(emb, dim=64, k=3, n_tables=8),
        blas_topk(emb, 3),
        k=3,
    )


def _q_doc_tfidf(spark, sf):
    """Top-3 TF-IDF keywords per document — all Catalyst (explode, two
    partial-aggregated shuffles, term-keyed join, per-doc window);
    score is ROUND(tf*ln((N+1)/(df+1)), 6) BEFORE ranking on both
    engines so the (score desc, term asc) order is engine-stable."""
    from btd.dataops.textstats import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf), k=3)


def _q_emb_semdedup(spark, sf):
    """SemDeDup in the gate: IVF clustering confines the quadratic
    pair scoring inside bounded clusters (n/cluster_target rule),
    keeper election via connected components. The oracle replays the
    same codebook (shared Lloyd CTEs), the same within-cluster
    candidate set, and the exact transitive closure."""
    from btd.dataops.similarity import semantic_dedup

    return semantic_dedup(_emb(spark, sf), threshold=0.45)


def _q_doc_lm(spark, sf):
    """Corpus-trained bigram-LM perplexity proxy per document — the
    CCNet-style quality filter, pure Catalyst (slice+zip bigrams, one
    model exchange, score re-join). avg_logp ROUND(,6): addends are
    exact same-input doubles on both engines; the mean's
    summation-order drift sits ~7 orders below the rounding step."""
    from btd.dataops.textstats import bigram_lm_scores

    return bigram_lm_scores(_docs(spark, sf))


def _q_media_features(spark, sf):
    """Multimodal plumbing in the graded gate: deterministic fake media
    (payload = md5-of-text bytes), Arrow-batched byte-stats kernel over
    the binary column. byte_mean = sum/16 is exact in binary, so the
    oracle (md5 hex nibbles → bytes) matches bit-for-bit, no rounding."""
    from btd.dataops.multimodal import extract_features, synthesize_media

    return extract_features(synthesize_media(_docs(spark, sf)), fake=True)


MEDIA_FEATURES_SQL = """
WITH b AS (
  SELECT doc_id AS media_id,
         list_transform(range(0, 16), j ->
             (strpos('0123456789abcdef',
                     substr(md5(text), CAST(2 * j + 1 AS INT), 1)) - 1) * 16
           + (strpos('0123456789abcdef',
                     substr(md5(text), CAST(2 * j + 2 AS INT), 1)) - 1))
             AS bytes
  FROM documents)
SELECT media_id,
       CAST(16 AS INT) AS n_bytes,
       list_sum(bytes) / 16.0 AS byte_mean,
       CAST(list_aggregate(bytes, 'min') AS INT) AS byte_min,
       CAST(list_aggregate(bytes, 'max') AS INT) AS byte_max
FROM b
"""


def _q_frame_sample(spark, sf):
    """Frame-sampling plumbing in the gate: every 2nd 4-byte frame of
    the fake payload, frames compared as hex (DuckDB slices the md5
    hex directly; Spark hex()es the sliced bytes)."""
    from btd.dataops.multimodal import sample_frames, synthesize_media

    fr = sample_frames(
        synthesize_media(_docs(spark, sf)), frame_bytes=4, every_nth=2
    )
    return fr.select(
        "media_id", "frame_idx", F.hex("frame").alias("frame_hex")
    )


FRAME_SAMPLE_SQL = """
SELECT doc_id AS media_id,
       CAST(f AS INT) AS frame_idx,
       upper(substr(md5(text), f * 8 + 1, 8)) AS frame_hex
FROM documents CROSS JOIN unnest([0, 2]) AS t(f)
"""


def _q_resize(spark, sf):
    """Resize plumbing in the gate: the deterministic stand-in block-
    averages the 16 fake-payload bytes into width*height=4 buckets.
    Bucket value = mean of 4 consecutive bytes truncated to uint8 =
    integer division (exact — sum/4.0 is exact in binary), so the hex
    comparison is bit-for-bit."""
    from btd.dataops.multimodal import resize_images, synthesize_media

    rs = resize_images(synthesize_media(_docs(spark, sf)), 2, 2, fake=True)
    return rs.select(
        "media_id", "width", "height",
        F.lower(F.hex("payload")).alias("payload_hex"),
    )


RESIZE_SQL = """
WITH b AS (
  SELECT doc_id AS media_id,
         list_transform(range(0, 16), j ->
             (strpos('0123456789abcdef',
                     substr(md5(text), CAST(2 * j + 1 AS INT), 1)) - 1) * 16
           + (strpos('0123456789abcdef',
                     substr(md5(text), CAST(2 * j + 2 AS INT), 1)) - 1))
             AS bytes
  FROM documents)
SELECT media_id,
       CAST(2 AS INT) AS width,
       CAST(2 AS INT) AS height,
       array_to_string(list_transform(range(0, 4), k ->
           lpad(lower(to_hex((bytes[4 * k + 1] + bytes[4 * k + 2]
                              + bytes[4 * k + 3] + bytes[4 * k + 4]) // 4)),
                2, '0')), '') AS payload_hex
FROM b
"""


def _q_curation(spark, sf):
    from btd.dataops.curation import curate

    return curate(_docs(spark, sf))


def _q_doc_sample(spark, sf):
    from btd.dataops.curation import deterministic_sample

    return deterministic_sample(
        _docs(spark, sf).select("doc_id"), "doc_id", 25, method="md5"
    )


def _q_decontaminate(spark, sf):
    """Benchmark decontamination in the gate: benchmark = every 10th
    base doc; corpus = docs_with_dups, whose planted near/exact copies
    of those docs carry verbatim benchmark 13-grams — so the flagged
    set is exactly benchmark members + their planted copies, with
    exact shared-distinct-13-gram counts."""
    from btd.dataops.curation import decontaminate

    base = _docs(spark, sf)
    bench = base.where(F.col("doc_id") % 10 == 0)
    return decontaminate(docs_with_dups(spark, sf), bench, n=13)


def _decontaminate_sql(n: int = 13) -> str:
    idx = ", ".join(f"t[i + {j}]" for j in range(1, n + 1))
    sh_of = (
        f"list_distinct(list_transform(range(0, greatest(len(t) - {n}, 0)"
        f" + 1), i -> concat_ws(' ', {idx})))"
    )
    return f"""WITH docs_plus AS ({DOCS_PLUS_SQL}),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM docs_plus),
sh AS (SELECT doc_id, unnest({sh_of}) AS sh FROM toks),
btoks AS (SELECT string_split(text, ' ') AS t FROM documents
          WHERE doc_id % 10 = 0),
bsh AS (SELECT DISTINCT unnest({sh_of}) AS sh FROM btoks)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
FROM sh JOIN bsh USING (sh)
GROUP BY doc_id"""


def _q_stratified_sample(spark, sf):
    """Dataset-mixing primitive: 20 deterministic docs per source,
    md5-ordered — same rows every run, every engine."""
    from btd.dataops.curation import stratified_sample

    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "source", "lang"
    )
    return stratified_sample(docs, "source", 20, "doc_id")


STRATIFIED_SAMPLE_SQL = """
SELECT doc_id, source, lang FROM (
  SELECT doc_id, source, lang,
         ROW_NUMBER() OVER (PARTITION BY source
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents)
WHERE rk <= 20
"""


#: the gate's mix manifest: halving rates over four sources, the rest
#: dropped — exercises keep-whole, fractional rates, and the implicit
#: rate-0 drop in one query
MIX_WEIGHTS = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.125}


def _q_mix(spark, sf):
    """Weighted dataset mixing in the gate: deterministic md5-bucket
    sampling per source at the manifest's rates (identical row
    selection in the SQL twin)."""
    from btd.dataops.curation import mix_sources

    docs = spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", "source"
    )
    return mix_sources(docs, MIX_WEIGHTS)


def _mix_sql() -> str:
    vals = ", ".join(
        f"('{s}', {int(round(r * 65536))})"
        for s, r in sorted(MIX_WEIGHTS.items())
    )
    return f"""WITH w AS (SELECT * FROM (VALUES {vals}) AS t(source, kb))
SELECT d.doc_id, d.source
FROM documents d JOIN w ON w.source = d.source
WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))
           AS INTEGER) < w.kb"""


def _q_chunk(spark, sf):
    """Token-budget chunking in the gate: 40-token chunks so multi-
    chunk docs are common at the gate corpus's doc lengths."""
    from btd.dataops.curation import chunk_documents

    return chunk_documents(_docs(spark, sf), max_tokens=40)


CHUNK_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
c AS (SELECT doc_id, toks,
             unnest(range(0, greatest(CAST(ceil(len(toks) / 40.0) AS INT), 1)))
                 AS chunk_idx
      FROM t)
SELECT doc_id,
       CAST(chunk_idx AS INTEGER) AS chunk_idx,
       array_to_string(list_slice(toks, chunk_idx * 40 + 1,
                                  chunk_idx * 40 + 40), ' ') AS chunk_text,
       CAST(len(list_slice(toks, chunk_idx * 40 + 1, chunk_idx * 40 + 40))
            AS BIGINT) AS n_tokens
FROM c
"""


def _q_scrub(spark, sf):
    """PII scrubbing in the gate: the raw docs carry no PII, so plant
    an email + URL on every 7th doc IN-QUERY (expressed identically in
    the SQL twin) — redacted text and removal counts must match."""
    from btd.dataops.textstats import scrub_pii

    base = _docs(spark, sf)
    planted = base.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact bob@example.com see https://ex.org/x?q=1"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return scrub_pii(planted)


SCRUB_SQL = """
WITH planted AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0
              THEN text || ' contact bob@example.com see https://ex.org/x?q=1'
              ELSE text END AS text
  FROM documents),
e AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_emails,
         regexp_replace(text,
              '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>',
              'g') AS no_email
  FROM planted)
SELECT doc_id,
       regexp_replace(no_email, 'https?://[^ ]+', '<URL>', 'g')
           AS text_scrubbed,
       n_emails,
       CAST(len(regexp_extract_all(no_email, 'https?://[^ ]+')) AS BIGINT)
           AS n_urls
FROM e
"""


def _q_kg_pagerank(spark, sf):
    """PageRank over the star-schema edge graph — iterative DataFrame
    joins; oracled by the same 5 iterations unrolled as DuckDB CTEs
    (``_pagerank_sql``). ROUND(,4) on both sides absorbs the ULP-level
    summation-order drift of a 5-deep float fixpoint (numeric
    correctness vs numpy is tested in tests/test_graph_curation.py)."""
    from btd.graph import pagerank
    from btd.star import edges

    e = edges(spark, sf).select(
        F.col("subject").alias("src"), F.col("object").alias("dst")
    )
    pr = pagerank(e, n_iter=5)
    return pr.select("node", F.round("rank", 4).alias("rank"))


def queries_dataops():
    return {
        "doc_curation": _q_curation,
        "doc_sample": _q_doc_sample,
        "kg_pagerank": _q_kg_pagerank,
        "doc_exact_dedup": _q_exact_dedup,
        "doc_ngram_jaccard": _q_ngram_jaccard,
        "doc_minhash_near_dup": _q_minhash_near_dup,
        "doc_simhash_near_dup": _q_simhash_near_dup,
        "doc_dedup_groups": _q_dedup_groups,
        "doc_winnow_near_dup": _q_winnow_near_dup,
        "doc_token_stats": _q_token_stats,
        "doc_quality_scores": _q_quality,
        "doc_language_id": _q_lang_id,
        "doc_fingerprints": _q_fingerprints,
        "doc_repetition": _q_repetition,
        "emb_cosine_near_dup": _q_emb_near_dup,
        "emb_cosine_near_dup_exact": _q_emb_near_dup_exact,
        "emb_brute_force_topk": _q_emb_brute_topk,
        "emb_recall_at_k": _q_emb_recall,
        "emb_pq_topk": _q_emb_pq_topk,
        "emb_lsh_topk": _q_emb_lsh_topk,
        "emb_ivf_topk": _q_emb_ivf_topk,
        "emb_cluster_sample": _q_emb_cluster_sample,
        "doc_tfidf": _q_doc_tfidf,
        "doc_lm_score": _q_doc_lm,
        "emb_semantic_dedup": _q_emb_semdedup,
        "doc_media_features": _q_media_features,
        "doc_frame_sample": _q_frame_sample,
        "doc_resize": _q_resize,
        "doc_decontaminate": _q_decontaminate,
        "doc_stratified_sample": _q_stratified_sample,
        "doc_mix": _q_mix,
        "doc_chunk": _q_chunk,
        "doc_scrub_pii": _q_scrub,
    }


# ---------------------------------------------------------------- oracles


def _pagerank_sql(n_iter: int = 5, damping: float = 0.85) -> str:
    """DuckDB twin of btd.graph.pagerank over the star-schema edges:
    the fixed-count iteration unrolled as chained CTEs r0..r{n}.
    Literals are Python-repr'd so both engines evaluate the identical
    doubles (Spark's ``F.lit(1.0 - damping)`` is the same Python
    float)."""
    from btd.star import EDGES_SQL

    base, d = repr(1.0 - damping), repr(damping)
    parts = [
        f"WITH edges AS ({EDGES_SQL}),",
        "e AS (SELECT subject AS src, object AS dst FROM edges),",
        "nodes AS (SELECT DISTINCT node FROM"
        " (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),",
        "od AS (SELECT src AS node, CAST(COUNT(*) AS DOUBLE) AS out_deg"
        " FROM e GROUP BY src),",
        "dangling AS (SELECT n.node FROM nodes n LEFT JOIN od USING (node)"
        " WHERE od.node IS NULL),",
        "r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes),",
    ]
    for j in range(1, n_iter + 1):
        i = j - 1
        parts.append(
            f"""r{j} AS (
  SELECT n.node,
         {base} + {d} * (COALESCE(c.recv, 0.0)
                         + d.dm / (SELECT n FROM nn)) AS rank
  FROM nodes n
  LEFT JOIN (SELECT e.dst AS node, SUM(r.rank / od.out_deg) AS recv
             FROM e JOIN r{i} r ON r.node = e.src
                    JOIN od ON od.node = e.src
             GROUP BY e.dst) c ON c.node = n.node
  CROSS JOIN (SELECT COALESCE(SUM(r.rank), 0.0) AS dm
              FROM dangling dg JOIN r{i} r ON r.node = dg.node) d
),"""
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(f"SELECT node, ROUND(rank, 4) AS rank FROM r{n_iter}")
    return "\n".join(parts)


def _simhash_sql() -> str:
    """DuckDB twin of btd.dataops.dedup.simhash_near_dup: the md5
    token-bit tally of ``_simhash64`` rebuilt from hex nibbles, band
    values summed directly from majority bits (sidesteps DuckDB's
    arithmetic ``>>`` on signed BIGINT)."""
    return f"""WITH docs_plus AS ({DOCS_PLUS_SQL}),
toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         FROM docs_plus),
doc_n AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
-- bit i of md5(tok)[:8] as big-endian u64: nibble 15 - i//4, bit i%4
tb AS (SELECT tok,
              list_transform(range(0, 64), i ->
                  ((strpos('0123456789abcdef',
                           substr(md5(tok), CAST(16 - i // 4 AS INT), 1)) - 1)
                   // (1 << CAST(i % 4 AS INT))) % 2) AS bits
       FROM (SELECT DISTINCT tok FROM toks)),
br AS (SELECT t.doc_id, unnest(range(0, 64)) AS i, unnest(tb.bits) AS bit
       FROM toks t JOIN tb USING (tok)),
votes AS (SELECT doc_id, i, SUM(bit) AS s FROM br GROUP BY doc_id, i),
fpb AS (SELECT v.doc_id, v.i,
               CASE WHEN 2 * v.s > d.n THEN 1 ELSE 0 END AS v
        FROM votes v JOIN doc_n d USING (doc_id)),
bands AS (SELECT doc_id,
                 CAST(i // 16 AS VARCHAR) || ':' ||
                 CAST(SUM(v * (CAST(1 AS BIGINT)
                               << CAST(i % 16 AS INT))) AS VARCHAR)
                     AS band_key
          FROM fpb GROUP BY doc_id, i // 16)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b USING (band_key)
WHERE a.doc_id < b.doc_id"""


def _lsh_cand_sql(dim: int, n_tables: int, bits: int, pair_op: str) -> str:
    """buckets + cand CTE bodies shared by the LSH top-k and near-dup
    oracles: the deterministic md5-derived hyperplanes inlined as
    literal DOUBLE[] (Python repr round-trips exactly), bucketing
    replicated verbatim. ``pair_op``: '!=' for directed top-k pairs,
    '<' for undirected near-dup pairs."""
    from btd.dataops.similarity import hyperplanes

    planes = hyperplanes(dim, n_tables * bits)

    def plane_lit(p):
        return "[" + ", ".join(repr(v) for v in p) + "]"

    keys = []
    for t in range(n_tables):
        sig = " || ".join(
            "(CASE WHEN ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), "
            f"{plane_lit(planes[t * bits + i])}), 6) > 0 "
            "THEN '1' ELSE '0' END)"
            for i in range(bits)
        )
        keys.append(f"'{t}:' || {sig}")
    return f"""buckets AS (SELECT vec_id,
                   unnest([{", ".join(keys)}]) AS bucket
            FROM embeddings),
cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM buckets a JOIN buckets b USING (bucket)
         WHERE a.vec_id {pair_op} b.vec_id)"""


def _pq_topk_sql(
    dim: int = 64,
    k: int = 3,
    m: int = 4,
    n_codes: int = 16,
    n_iter: int = 3,
    n_clusters: int = 16,
    nprobe: int = 4,
) -> str:
    """DuckDB twin of btd.dataops.similarity.pq_topk (IVFADC): the
    shared coarse-codebook CTEs (``_ivf_train_parts`` → home ``bk`` +
    probe ``pr`` assignments, identical to the ivf_topk twin), plus
    the per-subspace PQ Lloyd unrolled as CTEs (assignment score
    ROUND(dot − ½‖c‖², 6), ties → code index — pq_assign_kernel's
    exact discretization; centroids are plain means, NOT renormalized;
    empty codes keep the previous centroid), then
    ADC = ROUND(Σ_s dot(q_s, c_{code_s}), 6) computed ONLY over the
    probe-restricted candidate pairs and ranked (adc DESC, id_b ASC).
    n_codes is a design constant (2^bits), not data-sized; n_clusters
    replicates the auto_nlist rule at the gate corpus like the
    ivf_topk twin."""
    sd = dim // m

    def lo(s: int) -> int:
        return s * sd + 1

    def hi(s: int) -> int:
        return (s + 1) * sd

    def assign(name: str, book: str, s: int) -> str:
        return f"""{name} AS (
  SELECT vec_id, cidx FROM (
    SELECT v.vec_id, cb.cidx,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
             ORDER BY ROUND(list_dot_product(v.e[{lo(s)}:{hi(s)}], cb.c)
                            - 0.5 * list_dot_product(cb.c, cb.c), 6) DESC,
                      cb.cidx) AS rn
    FROM v, {book} cb) WHERE rn = 1)"""

    # coarse IVF layout: c0..c{n_iter} Lloyd CTEs + home (bk) + probes
    # (pr) — byte-identical machinery to the ivf_topk twin, so the
    # candidate sets of the two oracles can only agree
    parts = _ivf_train_parts(dim, n_clusters, n_iter)
    parts.append(_ivf_assign_cte("pr", f"c{n_iter}", f"<= {nprobe}") + ",")
    for s in range(m):
        parts.append(
            f"""cb0_{s} AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cidx,
         e[{lo(s)}:{hi(s)}] AS c
  FROM v ORDER BY vec_id LIMIT {n_codes}),"""
        )
    for j in range(1, n_iter + 1):
        i = j - 1
        for s in range(m):
            parts.append(assign(f"a{j}_{s}", f"cb{i}_{s}", s) + ",")
            parts.append(
                f"""mx{j}_{s} AS (
  SELECT a.cidx, unnest(range(1, {sd + 1})) AS i,
         unnest(v.e[{lo(s)}:{hi(s)}]) AS val
  FROM a{j}_{s} a JOIN v USING (vec_id)),
mv{j}_{s} AS (
  SELECT cidx, list(avg_v ORDER BY i) AS me
  FROM (SELECT cidx, i, AVG(val) AS avg_v FROM mx{j}_{s}
        GROUP BY cidx, i)
  GROUP BY cidx),
cb{j}_{s} AS (
  SELECT c.cidx, CASE WHEN mv.me IS NULL THEN c.c ELSE mv.me END AS c
  FROM cb{i}_{s} c LEFT JOIN mv{j}_{s} mv USING (cidx)),"""
            )
    for s in range(m):
        parts.append(assign(f"bk_{s}", f"cb{n_iter}_{s}", s) + ",")
    joins = " ".join(
        f"JOIN bk_{s} b{s} USING (vec_id)" for s in range(1, m)
    )
    adc = " + ".join(
        f"list_dot_product(a.e[{lo(s)}:{hi(s)}], c{s}.c)" for s in range(m)
    )
    code_joins = " ".join(
        f"JOIN cb{n_iter}_{s} c{s} ON c{s}.cidx = b.cidx_{s}"
        for s in range(m)
    )
    sel = ", ".join(
        f"b{s}.cidx AS cidx_{s}" if s else "b0.cidx AS cidx_0"
        for s in range(m)
    )
    parts.append(
        f"""codes AS (SELECT b0.vec_id, {sel} FROM bk_0 b0 {joins}),
cand AS (
  SELECT DISTINCT p.vec_id AS id_a, h.vec_id AS id_b
  FROM pr p JOIN bk h USING (cidx)
  WHERE p.vec_id != h.vec_id),
scored AS (
  SELECT cd.id_a, cd.id_b, ROUND({adc}, 6) AS adc
  FROM cand cd
  JOIN v a ON a.vec_id = cd.id_a
  JOIN codes b ON b.vec_id = cd.id_b
  {code_joins}),
ranked AS (
  SELECT id_a, id_b, adc,
         CAST(ROW_NUMBER() OVER (PARTITION BY id_a
              ORDER BY adc DESC, id_b) AS INTEGER) AS rank
  FROM scored)
SELECT id_a, id_b, adc, rank FROM ranked WHERE rank <= {k}"""
    )
    return "\n".join(parts)


def _brute_topk_sql(k: int) -> str:
    """Exact top-k twin (BLAS kernel's output) — also the ground-truth
    side of the recall oracle."""
    return f"""WITH {_COSINE_SQL},
            ranked AS (SELECT id_a, id_b, cosine,
                              CAST(ROW_NUMBER() OVER (PARTITION BY id_a
                                   ORDER BY cosine DESC, id_b) AS INTEGER)
                                  AS rank
                       FROM pairs WHERE id_a != id_b)
            SELECT id_a, id_b, cosine, rank FROM ranked WHERE rank <= {k}"""


def _recall_sql(k: int) -> str:
    """recall@k of the LSH path vs exact, composed from the two
    existing twins as subqueries (DuckDB allows WITH inside a derived
    table) — the oracle can only agree with itself."""
    lsh = _lsh_topk_sql(bits=auto_lsh_bits(_gate_corpus_n()))
    brute = _brute_topk_sql(k)
    return f"""
            WITH lsh AS (SELECT id_a, id_b FROM ({lsh}) tl),
            brute AS (SELECT id_a, id_b FROM ({brute}) tb),
            hits AS (SELECT b.id_a, COUNT(l.id_b) AS n_hit
                     FROM brute b LEFT JOIN lsh l
                       ON b.id_a = l.id_a AND b.id_b = l.id_b
                     GROUP BY b.id_a)
            SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
                   ROUND(AVG(n_hit * 1.0 / {k}), 6) AS avg_recall_at_k
            FROM hits"""


def _lsh_topk_sql(dim: int = 64, k: int = 3, n_tables: int = 8,
                  bits: int = 4) -> str:
    """DuckDB twin of btd.dataops.similarity.lsh_topk: deterministic
    bucketing (``_lsh_cand_sql``) and within-bucket scoring replicated
    verbatim."""
    return f"""WITH {_COSINE_SQL},
{_lsh_cand_sql(dim, n_tables, bits, "!=")},
scored AS (SELECT c.id_a, c.id_b, p.cosine
           FROM cand c JOIN pairs p
             ON p.id_a = c.id_a AND p.id_b = c.id_b),
ranked AS (SELECT id_a, id_b, cosine,
                  CAST(ROW_NUMBER() OVER (PARTITION BY id_a
                       ORDER BY cosine DESC, id_b) AS INTEGER) AS rank
           FROM scored)
SELECT id_a, id_b, cosine, rank FROM ranked WHERE rank <= {k}"""


def _lsh_near_dup_sql(dim: int = 64, threshold: float = 0.45,
                      n_tables: int = 8, bits: int = 4) -> str:
    """DuckDB twin of btd.dataops.similarity.lsh_near_dup: the SAME
    deterministic bucketing + exact per-candidate scoring + threshold.
    An exact oracle of the approximate operator — the candidate set is
    replicated, not approximated, so the hash comparison is a true
    pass/fail."""
    return f"""WITH {_COSINE_SQL},
{_lsh_cand_sql(dim, n_tables, bits, "<")}
SELECT c.id_a, c.id_b, p.cosine
FROM cand c JOIN pairs p ON p.id_a = c.id_a AND p.id_b = c.id_b
WHERE p.cosine >= {threshold!r}"""


def _ivf_assign_cte(name: str, cfrom: str, keep: str) -> str:
    """One discretized-argmax assignment CTE: cosine ROUND(,6) before
    ranking, ties → centroid index — the float path ivf_assign_kernel
    mirrors."""
    return f"""{name} AS (
  SELECT vec_id, cidx FROM (
    SELECT v.vec_id, c.cidx,
           ROW_NUMBER() OVER (PARTITION BY v.vec_id
             ORDER BY ROUND(list_dot_product(v.e, c.e), 6) DESC, c.cidx)
             AS rn
    FROM v, {cfrom} c)
  WHERE rn {keep})"""


def _ivf_train_parts(dim: int, n_clusters: int, n_iter: int) -> list[str]:
    """The Lloyd iterations unrolled as CTEs c0..c{n} plus the final
    home assignment ``bk`` — the DuckDB twin of ivf_train + home
    assignment, shared by the top-k and cluster-sample oracles so the
    codebook replica exists in one place. Empty clusters keep the
    previous centroid, exactly like ivf_train."""
    rng = f"range(1, {dim + 1})"
    parts = [
        f"WITH {_COSINE_SQL},",
        f"""c0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cidx, e
  FROM v ORDER BY vec_id LIMIT {n_clusters}),""",
    ]
    for j in range(1, n_iter + 1):
        i = j - 1
        parts.append(_ivf_assign_cte(f"a{j}", f"c{i}", "= 1") + ",")
        parts.append(
            f"""mx{j} AS (
  SELECT a.cidx, unnest({rng}) AS i, unnest(v.e) AS val
  FROM a{j} a JOIN v USING (vec_id)),
mv{j} AS (
  SELECT cidx, list(avg_v ORDER BY i) AS me
  FROM (SELECT cidx, i, AVG(val) AS avg_v FROM mx{j} GROUP BY cidx, i)
  GROUP BY cidx),
c{j} AS (
  SELECT c.cidx,
         CASE WHEN mv.me IS NULL
                   OR sqrt(list_dot_product(mv.me, mv.me)) = 0
              THEN c.e
              ELSE list_transform(mv.me,
                   x -> x / sqrt(list_dot_product(mv.me, mv.me)))
         END AS e
  FROM c{i} c LEFT JOIN mv{j} mv USING (cidx)),"""
        )
    parts.append(_ivf_assign_cte("bk", f"c{n_iter}", "= 1") + ",")
    return parts


def _ivf_topk_sql(
    dim: int = 64,
    k: int = 3,
    n_clusters: int = 16,
    n_iter: int = 3,
    nprobe: int = 4,
) -> str:
    """DuckDB twin of btd.dataops.similarity.ivf_topk: the shared
    codebook CTEs (``_ivf_train_parts``) + probe assignment + candidate
    join + exact scoring. Every cluster assignment rounds its cosine to
    6 decimals before ranking (ties → centroid index) in BOTH engines,
    so assignments agree despite summation-order ULPs in the means."""
    parts = _ivf_train_parts(dim, n_clusters, n_iter)
    parts.append(_ivf_assign_cte("pr", f"c{n_iter}", f"<= {nprobe}") + ",")
    parts.append(
        f"""cand AS (
  SELECT DISTINCT p.vec_id AS id_a, b.vec_id AS id_b
  FROM pr p JOIN bk b USING (cidx)
  WHERE p.vec_id != b.vec_id),
scored AS (
  SELECT c.id_a, c.id_b, p2.cosine
  FROM cand c JOIN pairs p2 ON p2.id_a = c.id_a AND p2.id_b = c.id_b),
ranked AS (
  SELECT id_a, id_b, cosine,
         CAST(ROW_NUMBER() OVER (PARTITION BY id_a
              ORDER BY cosine DESC, id_b) AS INTEGER) AS rank
  FROM scored)
SELECT id_a, id_b, cosine, rank FROM ranked WHERE rank <= {k}"""
    )
    return "\n".join(parts)


def _ivf_semdedup_sql(
    dim: int = 64,
    threshold: float = 0.45,
    n_clusters: int = 2,
    n_iter: int = 3,
) -> str:
    """DuckDB twin of btd.dataops.similarity.semantic_dedup: the shared
    codebook CTEs, the same within-cluster candidate pairs, exact
    ROUND(,6) cosine at ``threshold``, then the exact transitive
    closure with min-id keeper election (recursive CTE, like the
    doc_dedup_groups oracle)."""
    parts = _ivf_train_parts(dim, n_clusters, n_iter)
    parts[0] = "WITH RECURSIVE " + parts[0][len("WITH "):]
    parts.append(
        f"""cand AS (
  SELECT a.vec_id AS id_a, c.vec_id AS id_b
  FROM bk a JOIN bk c ON a.cidx = c.cidx AND a.vec_id < c.vec_id),
dup AS (SELECT c.id_a, c.id_b FROM cand c
        JOIN pairs p ON p.id_a = c.id_a AND p.id_b = c.id_b
        WHERE p.cosine >= {threshold!r}),
und AS (SELECT id_a AS a, id_b AS b FROM dup
        UNION ALL SELECT id_b AS a, id_a AS b FROM dup),
reach AS (SELECT vec_id, vec_id AS nb FROM v
          UNION
          SELECT r.vec_id, u.b AS nb FROM reach r JOIN und u ON u.a = r.nb)
SELECT vec_id, CAST(MIN(nb) AS BIGINT) AS keep_vec_id
FROM reach GROUP BY vec_id"""
    )
    return "\n".join(parts)


def _ivf_cluster_sample_sql(
    dim: int = 64,
    per_cluster: int = 3,
    n_clusters: int = 16,
    n_iter: int = 3,
) -> str:
    """DuckDB twin of btd.dataops.similarity.cluster_sample: the same
    codebook CTEs, then the per-cluster keep window (smallest vec_ids
    first)."""
    parts = _ivf_train_parts(dim, n_clusters, n_iter)
    parts.append(
        f"""kept AS (
  SELECT vec_id, CAST(cidx AS INTEGER) AS cluster,
         CAST(ROW_NUMBER() OVER (PARTITION BY cidx ORDER BY vec_id)
              AS INTEGER) AS rn
  FROM bk)
SELECT vec_id, cluster, rn FROM kept WHERE rn <= {per_cluster}"""
    )
    return "\n".join(parts)


#: normalize-then-dot over every ordered pair: the exact cosine every
#: embedding kernel in btd.dataops.similarity rounds to 6 places
#: (ROUND(.,6) absorbs summation-order differences vs numpy's matmul).
_COSINE_SQL = """
v AS (SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                 x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                CAST(embedding AS DOUBLE[]))))
                 AS e
      FROM embeddings),
pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 ROUND(list_dot_product(a.e, b.e), 6) AS cosine
          FROM v a, v b)
"""


def oracle_sql_dataops():
    d = f"WITH docs_plus AS ({DOCS_PLUS_SQL})"
    sig_cols = ", ".join(
        f"min(md5('{i}:' || shingle)) AS sig_{i}" for i in range(8)
    )
    band_list = ", ".join(
        f"md5('{b}' || '|' || sig_{2 * b} || '|' || sig_{2 * b + 1})"
        for b in range(4)
    )
    return {
        "doc_curation": r"""
            WITH q AS (SELECT doc_id, text,
                              len(string_split(text, ' ')) AS n_toks,
                              len(list_filter(string_split(text, ' '),
                                  x -> x IN ('a','and','das','de','der','die',
                                             'el','est','et','is','ist','la',
                                             'le','of','the','und','y','es')))
                                  * 1.0 / len(string_split(text, ' ')) AS sr
                       FROM documents),
                 f AS (SELECT doc_id,
                              md5(array_to_string(list_sort(list_distinct(
                                  string_split(text, ' '))), ' ')) AS fingerprint
                       FROM q
                       WHERE n_toks BETWEEN 50 AND 5000 AND sr <= 0.35)
            SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id, fingerprint
            FROM f GROUP BY fingerprint""",
        "doc_sample": """
            SELECT doc_id FROM documents
            WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2))
                       AS INTEGER) < 64""",
        "kg_pagerank": _pagerank_sql(),
        "doc_simhash_near_dup": _simhash_sql(),
        # ANN twins: the SAME auto-sizing rules the Spark queries use,
        # applied to the actual gate-corpus count (ADVICE r2 — no
        # inlined layout constants to silently desync)
        "emb_lsh_topk": _lsh_topk_sql(bits=auto_lsh_bits(_gate_corpus_n())),
        "emb_ivf_topk": _ivf_topk_sql(n_clusters=auto_nlist(_gate_corpus_n())),
        "emb_cluster_sample": _ivf_cluster_sample_sql(
            n_clusters=auto_nlist(_gate_corpus_n())
        ),
        "emb_semantic_dedup": _ivf_semdedup_sql(
            n_clusters=auto_semdedup_nlist(_gate_corpus_n())
        ),
        "doc_tfidf": """
            WITH toks AS (SELECT doc_id,
                                 unnest(string_split(text, ' ')) AS term
                          FROM documents),
            tf AS (SELECT doc_id, term, COUNT(*) AS tf
                   FROM toks GROUP BY doc_id, term),
            df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
            nd AS (SELECT COUNT(*) AS n_docs FROM documents),
            scored AS (SELECT t.doc_id, t.term, t.tf,
                              ROUND(t.tf * ln((nd.n_docs + 1)
                                              / (d.df + 1)), 6) AS score
                       FROM tf t JOIN df d USING (term) CROSS JOIN nd),
            r AS (SELECT doc_id, term, tf, score,
                         ROW_NUMBER() OVER (PARTITION BY doc_id
                             ORDER BY score DESC, term ASC) AS rank
                  FROM scored)
            SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, score,
                   CAST(rank AS INTEGER) AS rank
            FROM r WHERE rank <= 3""",
        "doc_lm_score": """
            WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
                       FROM documents),
            bg AS (SELECT doc_id,
                          unnest(tk[1:len(tk) - 1]) AS w1,
                          unnest(tk[2:len(tk)]) AS w2
                   FROM t WHERE len(tk) >= 2),
            model AS (SELECT w1, w2, COUNT(*) AS c12
                      FROM bg GROUP BY w1, w2),
            starts AS (SELECT w1, SUM(c12) AS c1 FROM model GROUP BY w1),
            vocab AS (SELECT COUNT(DISTINCT w) AS v FROM
                          (SELECT unnest(string_split(text, ' ')) AS w
                           FROM documents)),
            sc AS (SELECT g.doc_id,
                          ln((m.c12 + 1) / (s.c1 + v.v)) AS lp
                   FROM bg g
                   JOIN model m USING (w1, w2)
                   JOIN starts s USING (w1)
                   CROSS JOIN vocab v)
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
                   ROUND(AVG(lp), 6) AS avg_logp
            FROM sc GROUP BY doc_id""",
        "doc_media_features": MEDIA_FEATURES_SQL,
        "doc_frame_sample": FRAME_SAMPLE_SQL,
        "doc_resize": RESIZE_SQL,
        "doc_decontaminate": _decontaminate_sql(),
        "doc_stratified_sample": STRATIFIED_SAMPLE_SQL,
        "doc_mix": _mix_sql(),
        "doc_chunk": CHUNK_SQL,
        "doc_scrub_pii": SCRUB_SQL,
        "doc_exact_dedup": f"""{d}
            SELECT md5(text) AS text_hash,
                   CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_copies
            FROM docs_plus GROUP BY md5(text)""",
        "doc_ngram_jaccard": f"""{d}, {_SHINGLES_SQL}
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   ROUND(len(list_intersect(a.s, b.s)) * 1.0 /
                         len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
            FROM sh a, sh b
            WHERE a.doc_id < b.doc_id
              AND ROUND(len(list_intersect(a.s, b.s)) * 1.0 /
                        len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.5""",
        "doc_minhash_near_dup": f"""{d}, {_SHINGLES_SQL},
            ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
            sigs AS (SELECT doc_id, {sig_cols} FROM ex GROUP BY doc_id),
            bands AS (SELECT doc_id, unnest([{band_list}]) AS band FROM sigs),
            cands AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                      FROM bands a JOIN bands b USING (band)
                      WHERE a.doc_id < b.doc_id)
            SELECT c.id_a, c.id_b,
                   ROUND(len(list_intersect(sa.s, sb.s)) * 1.0 /
                         len(list_distinct(list_concat(sa.s, sb.s))), 6) AS jaccard
            FROM cands c
            JOIN sh sa ON sa.doc_id = c.id_a
            JOIN sh sb ON sb.doc_id = c.id_b
            WHERE ROUND(len(list_intersect(sa.s, sb.s)) * 1.0 /
                        len(list_distinct(list_concat(sa.s, sb.s))), 6) >= 0.5""",
        # transitive closure of the verified near-dup pairs via a
        # recursive CTE — exact CC for ANY component shape (the corpus
        # has natural near-dup pairs, so components are not cliques and
        # a fixed-hop closure would be wrong); component sizes are tiny
        # so the recursion is cheap in DuckDB
        "doc_dedup_groups": f"""WITH RECURSIVE docs_plus AS ({DOCS_PLUS_SQL}), {_SHINGLES_SQL},
            ex AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
            sigs AS (SELECT doc_id, {sig_cols} FROM ex GROUP BY doc_id),
            bands AS (SELECT doc_id, unnest([{band_list}]) AS band FROM sigs),
            cands AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                      FROM bands a JOIN bands b USING (band)
                      WHERE a.doc_id < b.doc_id),
            p AS (SELECT c.id_a, c.id_b
                  FROM cands c
                  JOIN sh sa ON sa.doc_id = c.id_a
                  JOIN sh sb ON sb.doc_id = c.id_b
                  WHERE ROUND(len(list_intersect(sa.s, sb.s)) * 1.0 /
                              len(list_distinct(list_concat(sa.s, sb.s))),
                              6) >= 0.5),
            und AS (SELECT id_a AS a, id_b AS b FROM p
                    UNION ALL SELECT id_b AS a, id_a AS b FROM p),
            reach AS (SELECT doc_id, doc_id AS nb FROM docs_plus
                      UNION
                      SELECT r.doc_id, u.b AS nb
                      FROM reach r JOIN und u ON u.a = r.nb)
            SELECT doc_id, CAST(MIN(nb) AS BIGINT) AS keep_doc_id
            FROM reach GROUP BY doc_id""",
        "doc_token_stats": r"""
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS INTEGER) AS n_ws_tokens,
                   CAST(len(regexp_extract_all(text,
                        '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]', 0)) AS INTEGER)
                       AS n_bpe_tokens,
                   CAST(length(text) AS INTEGER) AS n_chars_measured
            FROM documents""",
        "doc_quality_scores": r"""
            WITH q AS (SELECT doc_id, text,
                              len(string_split(text, ' ')) AS n_toks,
                              len(list_filter(string_split(text, ' '),
                                  x -> x IN ('a','and','das','de','der','die',
                                             'el','est','et','is','ist','la',
                                             'le','of','the','und','y','es')))
                                  AS n_stop,
                              length(text) -
                              length(regexp_replace(text, '[^\w\s]', '', 'g'))
                                  AS n_punct
                       FROM documents)
            SELECT doc_id,
                   CAST(length(text) AS INTEGER) AS n_chars_measured,
                   CAST(n_toks AS INTEGER) AS n_tokens,
                   ROUND(n_stop * 1.0 / n_toks, 6) AS stopword_ratio,
                   ROUND(n_punct * 1.0 / length(text), 6) AS punct_ratio,
                   ROUND((length(text) - n_toks + 1) * 1.0 / n_toks, 6)
                       AS mean_word_len
            FROM q""",
        "doc_language_id": """
            WITH h AS (SELECT doc_id,
                len(list_filter(string_split(text,' '),
                    x -> x IN ('the','a','of','and','is'))) AS h_en,
                len(list_filter(string_split(text,' '),
                    x -> x IN ('el','la','de','y','es'))) AS h_es,
                len(list_filter(string_split(text,' '),
                    x -> x IN ('le','la','de','et','est'))) AS h_fr,
                len(list_filter(string_split(text,' '),
                    x -> x IN ('der','die','das','und','ist'))) AS h_de
                FROM documents)
            SELECT doc_id,
                   CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
                        WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
                        WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
                        WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
                        ELSE 'fr' END AS lang_pred
            FROM h""",
        "doc_fingerprints": """
            SELECT doc_id,
                   md5(array_to_string(list_sort(list_distinct(
                       string_split(text, ' '))), ' ')) AS fingerprint
            FROM documents""",
        "doc_repetition": REPETITION_SQL,
        "emb_cosine_near_dup": _lsh_near_dup_sql(
            bits=auto_lsh_bits(_gate_corpus_n())
        ),
        "emb_cosine_near_dup_exact": f"""WITH {_COSINE_SQL}
            SELECT id_a, id_b, cosine FROM pairs
            WHERE id_a < id_b AND cosine >= 0.45""",
        "emb_brute_force_topk": _brute_topk_sql(3),
        "emb_recall_at_k": _recall_sql(3),
        "emb_pq_topk": _pq_topk_sql(
            m=8, n_codes=64, n_clusters=auto_nlist(_gate_corpus_n()),
            nprobe=4,
        ),
        "doc_winnow_near_dup": f"""
            WITH docs_plus AS ({DOCS_PLUS_SQL}),
            t AS (SELECT doc_id, string_split(text, ' ') AS tk
                  FROM docs_plus),
            pos AS (SELECT doc_id, tk,
                           unnest(range(1, len(tk) - 1)) AS i
                    FROM t),
            grams AS (SELECT doc_id, i,
                             md5(array_to_string(tk[i:i+2], ' ')) AS h
                      FROM pos),
            wins AS (SELECT doc_id, i,
                            MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                                         ROWS BETWEEN 3 PRECEDING
                                                  AND CURRENT ROW) AS fp
                     FROM grams),
            wf AS (SELECT DISTINCT doc_id, fp FROM wins WHERE i >= 4)
            SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                   CAST(COUNT(*) AS BIGINT) AS n_shared
            FROM wf a JOIN wf b
              ON a.fp = b.fp AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
            HAVING COUNT(*) >= 2""",
    }
