"""Corpus-level text operators for an LLM training-data pipeline
(SURVEY.md §2B extension surface): Gopher-style quality-rule gating,
corpus n-gram frequency, and chunk-level boilerplate detection.

These complement ``operators/text.py`` (per-document, zero-shuffle
features): everything here needs exactly one corpus-wide aggregation,
expressed so the shuffle carries *summaries*, not documents —

- ``gopher_quality_rules`` is still a pure projection (one codegen'd
  scan, no shuffle): the rule thresholds are constants, so gating
  100 TB is embarrassingly parallel.
- ``ngram_corpus_topk`` shuffles (ngram, partial-count) pairs after a
  map-side combine, then TakeOrdered merges per-partition top-K — the
  corpus text itself never moves.
- ``chunk_dedup_boilerplate`` is RefinedWeb-style duplicate-passage
  detection re-keyed for this fixture (the synthetic documents have no
  newlines, so the "line" unit is a fixed non-overlapping token
  window): the corpus-frequency relation is keyed by a 128-bit chunk
  hash, so the dedup shuffle carries 16-byte digests + doc ids, never
  chunk text, and the per-doc rollup re-shuffles only (doc_id, flags).

The reference engine (/root/reference/src/main.rs) has no text
surface; these are extension operators per the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from s3_manifest_spark.registry import register
from s3_manifest_spark.sources.tables import load_table

#: Whitespace tokens (documents fixture is space-separated).
_TOKENS = "split(text, ' ', -1)"

#: Gopher-style rule constants (Rae et al. 2021 §A1.1, adapted to the
#: synthetic fixture's scale — real corpora would use 50..100k words).
GOPHER_MIN_WORDS = 15
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 2.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MIN_ALPHA_RATIO = 0.8  # fraction of words containing [A-Za-z]
GOPHER_MIN_STOPWORDS = 2
_STOPWORDS = ("the", "a", "of", "and", "in")

#: Corpus n-gram parameters.
NGRAM_N = 3
NGRAM_TOP_K = 50

#: Boilerplate chunk unit: non-overlapping token windows of this size.
CHUNK_TOKENS = 10


_STOP_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)


def chunk_digest_rows(docs: "DataFrame") -> "DataFrame":
    """``(doc_id, h)``: one md5 digest per non-overlapping
    :data:`CHUNK_TOKENS`-token window of each document — the chunk
    expansion shared by the batch boilerplate query and the streaming
    chunk-index maintainer (streaming/boilerplate.py).  Token array
    materialized before the interpreted lambda (the ngram_corpus_topk
    lesson); only 16-byte digests + doc ids leave this projection,
    never chunk text."""
    return docs.select(
        "doc_id", F.split(F.col("text"), " ", -1).alias("t")
    ).select(
        "doc_id",
        F.explode(
            # sequence(0, -1) would yield a DESCENDING [0, -1] in Spark
            # (not the empty list DuckDB's range gives) — guard short
            # docs explicitly.
            F.expr(
                f"CASE WHEN size(t) >= {CHUNK_TOKENS} THEN "
                f"transform(sequence(0, CAST(floor(size(t) / {CHUNK_TOKENS}) AS INT) - 1), "
                f"i -> md5(concat_ws(' ', slice(t, i*{CHUNK_TOKENS}+1, {CHUNK_TOKENS})))) "
                "ELSE array() END"
            )
        ).alias("h"),
    )


@register(
    "gopher_quality_rules",
    oracle=f"""
    WITH feat AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             round(length(replace(text, ' ', '')) * 1.0
                   / greatest(len(string_split(text, ' ')), 1), 4) AS mean_word_len,
             round(len(list_filter(string_split(text, ' '),
                                   w -> regexp_matches(w, '[A-Za-z]'))) * 1.0
                   / greatest(len(string_split(text, ' ')), 1), 4) AS alpha_ratio,
             CAST(len(list_filter(string_split(text, ' '),
                                  w -> w IN ({_STOP_SQL}))) AS BIGINT) AS stop_count
      FROM documents
    )
    SELECT doc_id, n_words, mean_word_len, alpha_ratio, stop_count,
           (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
             AND (mean_word_len BETWEEN {GOPHER_MIN_MEAN_WORD_LEN}
                                    AND {GOPHER_MAX_MEAN_WORD_LEN})
             AND alpha_ratio >= {GOPHER_MIN_ALPHA_RATIO}
             AND stop_count >= {GOPHER_MIN_STOPWORDS} AS passes
    FROM feat
    """,
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality gate: word-count bounds, mean-word-length
    band, alphabetic-word fraction, minimum stopword evidence — the
    standard cheap pre-filter run before any expensive dedup or
    training step.

    One narrow projection, zero shuffles, all built-in higher-order
    functions (no Python in the row path): at 100 TB this is a pure
    scan whose only knob is input-split parallelism, and the rule
    columns are emitted alongside the verdict so downstream audits can
    recover WHY a document was dropped without recomputing.
    """
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(F.expr(_TOKENS)).cast("long")
    n1 = F.greatest(n, F.lit(1))
    mean_wl = F.round(
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / n1, 4
    )
    alpha = F.round(
        F.expr(f"size(filter({_TOKENS}, w -> w rlike '[A-Za-z]'))") / n1, 4
    )
    stops = F.expr(
        f"size(filter({_TOKENS}, w -> w IN ({_STOP_SQL})))"
    ).cast("long")
    feat = docs.select(
        "doc_id",
        n.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        alpha.alias("alpha_ratio"),
        stops.alias("stop_count"),
    )
    passes = (
        F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & F.col("mean_word_len").between(
            GOPHER_MIN_MEAN_WORD_LEN, GOPHER_MAX_MEAN_WORD_LEN
        )
        & (F.col("alpha_ratio") >= GOPHER_MIN_ALPHA_RATIO)
        & (F.col("stop_count") >= GOPHER_MIN_STOPWORDS)
    )
    return feat.select("*", passes.alias("passes"))


@register(
    "ngram_corpus_topk",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    g AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t) - {NGRAM_N - 2}),
                    i -> array_to_string(t[i:i+{NGRAM_N - 1}], ' '))) AS ngram
      FROM toks
    )
    SELECT ngram,
           CAST(count(*) AS BIGINT)               AS n_occ,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM g
    GROUP BY ngram
    ORDER BY n_occ DESC, ngram
    LIMIT {NGRAM_TOP_K}
    """,
)
def ngram_corpus_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-{K} token {N}-grams with occurrence and
    document frequencies — the profiling pass behind boilerplate
    blocklists and contamination probes.

    Shape at scale: the {N}-gram expansion is a codegen'd
    transform+explode (linear in tokens, no Python); the aggregate is
    map-side combinable so the exchange carries one (ngram, partials)
    row per distinct ngram per task, and the final top-K is a
    TakeOrdered merge of per-partition heaps — no global sort, no
    driver relation beyond K rows.  Ordering (count desc, ngram asc)
    is a total order, so LIMIT is deterministic at every scale.

    Measured A/Bs (sf0.1, min-of-4 quiet window): element_at beats
    slice+concat_ws ~15%; the no-Expand rewrite (union of occurrence
    + per-doc-distinct explodes) is 7× SLOWER (3.55 vs 0.48 s — the
    transform recomputes per branch and the explode volume doubles),
    so countDistinct's Expand stays.  Floor decomposition rides
    PROBE_FLOORS.json (trigram_expand_count leg).
    """
    # CPU-dense per byte (token expansion + vocabulary agg): keep the
    # exchanges wide under the r17 size-driven coalescing default
    # (interleaved A/B min-of-5, two windows: −39.3% / −40.3%)
    from s3_manifest_spark.registry import prefer_parallel_exchanges

    prefer_parallel_exchanges(spark)
    # widen=True: the expansion lambda is interpreted per-row work and
    # the fixture is a single row group — without the (production-
    # self-disabling) widen gate the whole corpus expands on ONE task.
    docs = load_table(spark, sf_dir, "documents", widen=True)
    # Materialize the token array BEFORE the lambda (the _shingled
    # lesson, dedup._shingled): higher-order functions are interpreted,
    # and slice(split(text), i, N) inside the transform re-splits the
    # text per window — O(tokens²)/doc, measured 2.2 s vs 0.5 s at
    # sf0.1 for this query.  element_at over the materialized array
    # beats slice+concat_ws (no per-window array allocation, ~15%).
    toks = docs.select("doc_id", F.split(F.col("text"), " ", -1).alias("t"))
    tri = " , ' ', ".join(f"element_at(t, i + {k})" for k in range(NGRAM_N))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN size(t) >= {NGRAM_N} THEN "
                f"transform(sequence(1, size(t) - {NGRAM_N - 1}), "
                f"i -> concat({tri})) "
                "ELSE array() END"
            )
        ).alias("ngram"),
    )
    return (
        grams.groupBy("ngram")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occ").desc(), "ngram")
        .limit(NGRAM_TOP_K)
    )


#: Shared by the batch query and the streaming maintainer's twin
#: (streaming/boilerplate.py) — the hash match on the streamed path
#: certifies maintenance converges to exactly the batch-built state.
BOILERPLATE_ORACLE_SQL = f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    ch AS (
      SELECT doc_id,
             unnest(list_transform(
               range(0, CAST(floor(len(t) / {CHUNK_TOKENS}) AS INT)),
               i -> md5(array_to_string(
                      t[i*{CHUNK_TOKENS}+1 : i*{CHUNK_TOKENS}+{CHUNK_TOKENS}],
                      ' ')))) AS h
      FROM toks
    ),
    freq AS (SELECT h, count(*) AS n FROM ch GROUP BY h),
    per AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_chunks,
             CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
      FROM ch JOIN freq USING (h)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(per.n_chunks, 0) AS BIGINT) AS n_chunks,
           CAST(COALESCE(per.n_dup, 0) AS BIGINT)    AS n_dup_chunks,
           round(COALESCE(per.n_dup, 0) * 1.0
                 / greatest(COALESCE(per.n_chunks, 0), 1), 4)
             AS boilerplate_ratio
    FROM documents d LEFT JOIN per USING (doc_id)
    """


@register("chunk_dedup_boilerplate", oracle=BOILERPLATE_ORACLE_SQL)
def chunk_dedup_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style duplicated-passage detection: split every
    document into non-overlapping {CHUNK_TOKENS}-token chunks, count
    each chunk's corpus frequency, and report per document how much of
    it is boilerplate (chunks that also appear elsewhere).  The
    fixture text has no newlines, so the fixed token window stands in
    for the "line" unit real pipelines use.

    Scale shape: corpus frequency is ONE digest-keyed count window —
    the exchange moves 16-byte hashes + doc ids, never chunk text,
    and the expensive md5 expansion is evaluated exactly once — the
    groupBy+join-back formulation evaluates that subtree twice and
    interleaved-A/B'd slower here too (0.59 vs 0.50 s min-of-5 paired
    at sf0.1), consistent with cap_document_frequency's 2× finding on
    the same shape (dedup.cap_document_frequency); the per-doc
    rollup re-aggregates only (doc_id, is_dup) pairs.  Documents
    shorter than one chunk survive via the final left join from the
    documents table (n_chunks = 0, ratio 0) — at 100 TB that join is
    doc_id-keyed and colocates with the rollup.
    """
    # CPU-dense digest expansion + count window: keep exchanges wide
    # (interleaved A/B min-of-5, two windows: −19.0% / −12.4%)
    from s3_manifest_spark.registry import prefer_parallel_exchanges

    prefer_parallel_exchanges(spark)
    # widen=True: interpreted per-row expansion over a single-row-group
    # fixture (see ngram_corpus_topk)
    docs = load_table(spark, sf_dir, "documents", widen=True)
    return boilerplate_report(docs, chunk_digest_rows(docs))


def boilerplate_report(docs: DataFrame, chunks: DataFrame) -> DataFrame:
    """Per-document boilerplate rollup over a ``(doc_id, h)`` chunk
    relation — shared by the batch query (chunks expanded inline) and
    the streaming maintainer's read-time probe (chunks read from the
    maintained index store).

    Corpus frequency is ONE digest-keyed window shuffle — the
    groupBy+join-back formulation evaluates the chunk subtree TWICE
    (freq side + probe side; nothing forces exchange reuse when AQE
    broadcasts the freq relation), the exact shape
    dedup.cap_document_frequency measured 2x slower."""
    from pyspark.sql import Window

    annotated = chunks.withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("h"))
    )
    per = annotated.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum(F.when(F.col("n") > 1, 1).otherwise(0)).alias("n_dup"),
    )
    return docs.select("doc_id").join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_chunks"), F.lit(0)).cast("long").alias("n_chunks"),
        F.coalesce(F.col("n_dup"), F.lit(0)).cast("long").alias("n_dup_chunks"),
        F.round(
            F.coalesce(F.col("n_dup"), F.lit(0))
            / F.greatest(F.coalesce(F.col("n_chunks"), F.lit(0)), F.lit(1)),
            4,
        ).alias("boilerplate_ratio"),
    )


#: Collocation-mining parameters.
LIFT_MIN_SUPPORT = 5
LIFT_TOP_K = 50


@register(
    "bigram_lift_topk",
    oracle=f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    uni AS (SELECT unnest(t) AS u FROM toks),
    ucount AS (SELECT u, CAST(count(*) AS BIGINT) AS n FROM uni GROUP BY u),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM uni),
    bi AS (
      SELECT unnest(list_transform(range(1, len(t)),
                    i -> array_to_string(t[i:i+1], ' '))) AS b
      FROM toks
    ),
    bcount AS (SELECT b, CAST(count(*) AS BIGINT) AS n_ab FROM bi GROUP BY b),
    scored AS (
      SELECT b AS bigram, n_ab,
             round(n_ab * 1.0 * (SELECT nn FROM tot)
                   / (ua.n * ub.n), 6) AS lift
      FROM bcount
      JOIN ucount ua ON ua.u = string_split(b, ' ')[1]
      JOIN ucount ub ON ub.u = string_split(b, ' ')[2]
      WHERE n_ab >= {LIFT_MIN_SUPPORT}
    )
    SELECT bigram, n_ab, lift
    FROM scored
    ORDER BY lift DESC, bigram
    LIMIT {LIFT_TOP_K}
    """,
)
def bigram_lift_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-{K} token bigrams by LIFT —
    ``P(ab) / (P(a)·P(b))`` computed as the exact integer ratio
    ``n_ab·N / (n_a·n_b)`` — with a minimum-support floor.  The
    word2vec/PMI-style association statistic, kept log-free on
    purpose: every product is an exact int64 (< 2^53 far beyond this
    corpus), so the single IEEE division is bit-identical across
    engines — ``ln()`` is libm-defined and would not be (the
    lsh_tuning_curve precedent).

    Shape at scale: two map-side-combinable token aggregates (unigram,
    bigram — shuffle keys are vocabulary terms, never documents), a
    1-row total, and two term-keyed joins of the bigram relation
    against the unigram counts (AQE broadcasts the vocabulary side
    when it fits, stays a shuffle join when a 100 TB corpus's
    vocabulary doesn't); the final top-K is TakeOrdered under the
    total order (rounded lift desc, bigram asc).
    """
    # CPU-dense token expansion + vocabulary aggregates: keep the
    # exchanges wide (interleaved A/B min-of-5, two windows:
    # −23.0% / −14.0%)
    from s3_manifest_spark.registry import prefer_parallel_exchanges

    prefer_parallel_exchanges(spark)
    # widen=True: interpreted per-row expansion over a single-row-group
    # fixture (see ngram_corpus_topk)
    docs = load_table(spark, sf_dir, "documents", widen=True)
    toks = docs.select(F.explode(F.expr(_TOKENS)).alias("u"))
    ucount = toks.groupBy("u").agg(F.count(F.lit(1)).alias("n"))
    # token array materialized before the lambda (see ngram_corpus_topk)
    bi = docs.select(F.split(F.col("text"), " ", -1).alias("t")).select(
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 2 THEN "
                "transform(sequence(1, size(t) - 1), "
                "i -> concat(element_at(t, i), ' ', element_at(t, i + 1))) "
                "ELSE array() END"
            )
        ).alias("b")
    )
    bcount = (
        bi.groupBy("b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= LIFT_MIN_SUPPORT)
    )
    # N from the vocabulary-sized count relation — a separate
    # toks.agg(count) would re-scan and re-explode the whole corpus
    # for one scalar (global agg cannot reuse the keyed agg's exchange)
    total = ucount.agg(F.sum("n").alias("nn"))
    w1 = F.split(F.col("b"), " ").getItem(0)
    w2 = F.split(F.col("b"), " ").getItem(1)
    ua = ucount.select(F.col("u").alias("u1"), F.col("n").alias("na"))
    ub = ucount.select(F.col("u").alias("u2"), F.col("n").alias("nb"))
    scored = (
        bcount.withColumn("w1", w1)
        .withColumn("w2", w2)
        .join(ua, F.col("w1") == F.col("u1"))
        .join(ub, F.col("w2") == F.col("u2"))
        .crossJoin(F.broadcast(total))
        .select(
            F.col("b").alias("bigram"),
            "n_ab",
            F.round(
                (F.col("n_ab") * F.lit(1.0) * F.col("nn"))
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("lift"),
        )
    )
    return scored.orderBy(F.col("lift").desc(), "bigram").limit(LIFT_TOP_K)
