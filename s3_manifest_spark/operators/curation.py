"""Corpus-curation operators for an LLM training-data pipeline
(SURVEY.md §2B extension surface): document chunking, vocabulary
extraction, TF-IDF keyterms, PII redaction, deterministic stratified
sampling, latest-record dedup, and quantile outlier filtering.

Like the rest of the extension surface these are pure built-in-function
plans — the heavy rows never cross the Python boundary.  Each docstring
notes the shuffle structure, because at 100 TB that IS the cost model:
a per-document operator (chunking, redaction, sampling) must stay
shuffle-free, and a corpus-level one (vocabulary, TF-IDF, quantiles)
must shuffle only aggregated/short rows, never raw text.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from s3_manifest_spark.operators.text import _batch_tokens, _doc_runs, _run_starts
from s3_manifest_spark.registry import cached, register, release, track_persist
from s3_manifest_spark.sources.tables import (
    load_table,
    local_relation,
    parquet_row_count,
)

CHUNK_TOKENS = 30
CHUNK_STRIDE = 20  # 10-token overlap between consecutive chunks

#: Whitespace tokens (documents fixture is space-separated).
_TOKENS = "split(text, ' ', -1)"

# PII patterns valid in both Java regex (Spark) and RE2 (DuckDB).
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+1-[0-9]{3}-[0-9]{4}"


@register(
    "doc_chunking",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    s AS (
      SELECT doc_id, toks,
             unnest(generate_series(0, len(toks) - 1, {CHUNK_STRIDE})) AS start
      FROM t
    )
    SELECT doc_id,
           CAST(start // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
           array_to_string(
             list_slice(toks, start + 1, least(start + {CHUNK_TOKENS}, len(toks))),
             ' ') AS chunk_text,
           CAST(least(start + {CHUNK_TOKENS}, len(toks)) - start AS BIGINT)
             AS n_chunk_tokens
    FROM s
    """,
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size token chunking with overlap (context-window prep).

    Each document yields ⌈n/stride⌉ chunks of ≤{CHUNK_TOKENS} tokens at
    stride {CHUNK_STRIDE}.  The whole plan is scan → generator expression
    (``sequence`` + ``posexplode``) → projection: zero shuffles, and the
    fan-out happens inside the task that already holds the text — the
    only way chunking survives 100 TB (shipping raw text to a shuffle
    to chunk it would double the largest column's IO).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.expr(_TOKENS)
    n = F.size("toks")
    return (
        docs.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            "toks",
            F.posexplode(
                F.sequence(F.lit(0), n - 1, F.lit(CHUNK_STRIDE))
            ).alias("chunk_idx", "start"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.array_join(
                F.slice(F.col("toks"), F.col("start") + 1, CHUNK_TOKENS), " "
            ).alias("chunk_text"),
            (
                F.least(F.col("start") + CHUNK_TOKENS, F.size("toks"))
                - F.col("start")
            )
            .cast("long")
            .alias("n_chunk_tokens"),
        )
    )


VOCAB_TOP_K = 100


@register(
    "vocab_topk",
    oracle=f"""
    SELECT token,
           count(*)                 AS n_total,
           count(DISTINCT doc_id)   AS n_docs
    FROM (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    )
    GROUP BY token
    ORDER BY n_total DESC, token
    LIMIT {VOCAB_TOP_K}
    """,
)
def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global vocabulary: top-{VOCAB_TOP_K} tokens by corpus frequency
    with document frequency.

    One explode (in-task) then ONE shuffle keyed by token with map-side
    partial aggregation — the shuffle carries (token, partial count)
    pairs, bounded by |vocabulary| per task, not by corpus size.  The
    final top-k is a TakeOrdered over the aggregated (small) relation.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.expr(_TOKENS)).alias("token"))
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_total").desc(), "token")
        .limit(VOCAB_TOP_K)
    )


#: Driver/broadcast bound on the fitted IDF table (distinct terms).
#: Below it the dfreq model collects + broadcasts (a few-MB dict —
#: the sklearn-style in-memory IDF table); above it the model STAYS a
#: distributed (term, dfreq) relation and scoring switches to a
#: term-keyed join, because a 100 TB corpus's raw vocabulary
#: (10^8-10^9 terms) can exceed both driver memory and broadcast size.
#: This is the bound SCALE.md states; there is no unbounded collect on
#: either side of it.
TFIDF_VOCAB_BROADCAST_CAP = 2_000_000


def _tfidf_dfreq(spark: SparkSession, sf_dir: str):
    """Corpus document-frequency statistics as a session model
    (term → number of docs containing it): fit ONCE per (session,
    sf_dir), reused by every scoring call — the sklearn
    TfidfVectorizer fit/transform split, which is how a production
    pipeline maintains IDF tables (corpus statistics change on
    ingest, not per query).  One batch-vectorized pass (per-doc
    distinct terms in-task) feeding a map-side-combinable vocab-sized
    aggregate.

    The fitted model has two shapes, switched on
    :data:`TFIDF_VOCAB_BROADCAST_CAP`:

    - vocabulary ≤ cap → a ``Broadcast[dict]`` (today's fixtures: 31
      terms).  The driver pull is bounded by the cap via ``take(cap+1)``
      — never an unbounded ``collect()``.
    - vocabulary > cap → the distributed ``(term, dfreq)`` DataFrame
      itself (localCheckpoint'd so reuse doesn't re-pay the fit);
      :func:`tfidf_topterms` then scores with a term-keyed shuffle
      join (AQE downgrades it to broadcast when the relation turns out
      small).  This is the 100 TB path; nothing vocabulary-sized ever
      lands on the driver.

    Released by ``registry.clear_model_cache``; bench.py prices the
    fit into ``cold_sec``.  The broadcast shape persists via
    ``models.save_models`` (kind ``broadcast_json``); the frame shape
    is rebuilt from data by design and is skip-reported by the store.
    """
    return cached(
        spark, ("tfidf_dfreq", sf_dir), lambda: _fit_tfidf_dfreq(spark, sf_dir)
    )


def _term_counts(texts):
    """``(row, code, cnt, dlen, terms)``: one entry per distinct
    (document, term) of one Arrow batch's text column — the batch row,
    the term's code into ``terms``, its count in the document and the
    document's length — or None when the batch has no token.  The one
    per-(doc, term) count of the TF-IDF fit and of both scoring
    paths."""
    import pandas as pd

    lens, flat, di = _batch_tokens(texts)
    if len(flat) == 0:
        return None
    codes, terms = pd.factorize(flat)
    order, starts, cnt = _doc_runs(di, codes)
    first = order[starts]
    row = di[first]
    return row, codes[first], cnt, lens[row], terms


def _fit_tfidf_dfreq(spark: SparkSession, sf_dir: str):
    """The uncached :func:`_tfidf_dfreq` build."""
    docs = load_table(spark, sf_dir, "documents", widen=True)

    def distinct_terms(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            tf = _term_counts(pdf["text"])
            if tf is None:
                continue
            _, code, _, _, terms = tf
            # a term's batch dfreq = its number of (doc, term) entries
            yield pd.DataFrame(
                {"term": terms, "pdf_": np.bincount(code, minlength=len(terms))}
            )

    dfreq_rel = (
        docs.select("text")
        .mapInPandas(distinct_terms, schema="term string, pdf_ long")
        .groupBy("term")
        .agg(F.sum("pdf_").alias("dfreq"))
    )
    cap = TFIDF_VOCAB_BROADCAST_CAP
    # Checkpoint FIRST, then probe the checkpointed relation: the fit
    # (corpus kernel + term shuffle) executes exactly ONCE either way.
    # Probing with take() before checkpointing would run the whole fit
    # for the probe and then AGAIN for the eager checkpoint — a 2x
    # cold fit precisely on the largest corpora the overflow path
    # exists for.  (Model frames localCheckpoint, never persist —
    # CacheManager is plan-keyed and shared entries get swept.)
    dfreq_ckpt = dfreq_rel.localCheckpoint(eager=True)
    # take(cap+1) bounds the driver transfer by the cap itself: when
    # the vocabulary fits, these rows ARE the whole relation; when it
    # doesn't, we stop at cap+1 rows and keep the model distributed.
    head = dfreq_ckpt.take(cap + 1)
    if len(head) > cap:
        return dfreq_ckpt
    value = spark.sparkContext.broadcast({r["term"]: r["dfreq"] for r in head})
    release(dfreq_ckpt)  # the dict is the model now
    return value


TFIDF_TOP_TERMS = 3


@register(
    "tfidf_topterms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS cnt FROM tok GROUP BY doc_id, term
    ),
    dl AS (
      SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS dlen FROM tf GROUP BY doc_id
    ),
    df AS (
      SELECT term, count(*) AS dfreq FROM tf GROUP BY term
    ),
    n AS (SELECT count(*) AS nd FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             round((cnt * 1.0 / dlen) * ln(nd * 1.0 / dfreq), 6) AS tfidf
      FROM tf
      JOIN dl USING (doc_id)
      JOIN df USING (term)
      CROSS JOIN n
    )
    SELECT doc_id, term, tfidf
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, term
             ) AS rn
      FROM scored
    )
    WHERE rn <= {TFIDF_TOP_TERMS}
    """,
)
def tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TFIDF_TOP_TERMS} TF-IDF keyterms per document.

    tf = term count ÷ doc length, idf = ln(N ÷ doc-frequency), ranked
    per document on the ROUNDED score (+ term tie-break) so rank order
    is engine-independent.

    Shuffle structure at scale: ZERO exchanges.  Document frequency is
    a session-cached corpus model (:func:`_tfidf_dfreq` — fit once,
    score many, the IDF-table lifecycle every production TF-IDF
    system uses); scoring is then ONE batch-vectorized kernel pass —
    per-(doc, term) counts via ``pd.factorize`` + lexsort run-lengths,
    IDF lookup vectorized over the batch's unique terms, and the
    per-doc top-k ranked in-batch (each document's tokens are complete
    inside its Arrow batch, so no doc-keyed exchange exists).  The r8
    plan shuffled every (doc, term) row twice (term-keyed dfreq
    window, doc-keyed rank window): 0.77 s → ~0.33 s at sf0.1, and at
    100 TB the only moving data is the output.  N is a parquet-footer
    metadata read (no Spark job at all).
    """
    docs = load_table(spark, sf_dir, "documents", widen=True)
    nd = parquet_row_count(f"{sf_dir}/documents.parquet")
    model = _tfidf_dfreq(spark, sf_dir)
    k = TFIDF_TOP_TERMS
    if isinstance(model, DataFrame):
        # Vocabulary exceeded TFIDF_VOCAB_BROADCAST_CAP at fit time:
        # score relationally — same math, same rounding, same
        # tie-break, but the IDF table never leaves the cluster.
        return _tfidf_topterms_relational(docs, model, nd, k)
    bc_dfreq = model

    def kernel(batches):
        import numpy as np
        import pandas as pd

        dfreq = bc_dfreq.value
        for pdf in batches:
            tf = _term_counts(pdf["text"])
            if tf is None:
                continue
            row, code, cnt, dlen, terms = tf
            # IDF vectorized over the batch's UNIQUE terms (small),
            # then gathered per row; a term missing from the fitted
            # table means the model is stale for this corpus - fail
            # loud rather than score with a wrong default.
            try:
                u_df = np.fromiter(
                    (dfreq[u] for u in terms), dtype=np.int64, count=len(terms)
                )
            except KeyError as exc:
                raise ValueError(
                    f"term {exc.args[0]!r} absent from fitted dfreq model"
                ) from exc
            tfidf = np.round(
                (cnt / dlen.astype("float64"))
                * np.log(nd / u_df[code].astype("float64")),
                6,
            )
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy()[row].astype("int64"),
                    "term": terms.take(code),
                    "tfidf": tfidf,
                }
            )
            out = out.sort_values(
                ["doc_id", "tfidf", "term"],
                ascending=[True, False, True],
                kind="mergesort",
            )
            yield out.groupby("doc_id", sort=False).head(k)

    return docs.select("doc_id", "text").mapInPandas(
        kernel, schema="doc_id long, term string, tfidf double"
    )


def _tfidf_topterms_relational(
    docs: DataFrame, dfreq: DataFrame, nd: int, k: int
) -> DataFrame:
    """The unbounded-vocabulary TF-IDF plan: per-(doc, term) counts
    emitted in-task (each document is whole inside its Arrow batch, so
    tf and doc length finalize without a doc-keyed pre-aggregation),
    then ONE term-keyed join against the distributed dfreq model (AQE
    broadcasts it when it is actually small) and ONE doc-keyed window
    for the per-document top-k.  Two exchanges total, both on short
    aggregated rows — the shape SCALE.md documents for corpora whose
    vocabulary cannot broadcast.  Math and tie-break are identical to
    the broadcast kernel; rounding agrees everywhere but an exact
    6th-place decimal midpoint (see the inline note), and tests pin
    output equality between paths on the fixtures."""

    def tf_rows(batches):
        import pandas as pd

        for pdf in batches:
            tf = _term_counts(pdf["text"])
            if tf is None:
                continue
            row, code, cnt, dlen, terms = tf
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy()[row].astype("int64"),
                    "term": terms.take(code),
                    "cnt": cnt.astype("int64"),
                    "dlen": dlen.astype("int64"),
                }
            )

    tf = docs.select("doc_id", "text").mapInPandas(
        tf_rows, schema="doc_id long, term string, cnt long, dlen long"
    )
    # LEFT join + raise_error on a miss: the broadcast kernel fails
    # loud on a term absent from the fitted model (stale-model
    # contract) and this path must not silently DROP those rows the
    # way an inner join would.  raise_error feeds the tfidf formula,
    # so the optimizer cannot prune the check away.
    dfreq_checked = F.when(
        F.col("dfreq").isNull(),
        F.raise_error(
            F.concat(
                F.lit("term "), F.col("term"),
                F.lit(" absent from fitted dfreq model"),
            )
        ).cast("long"),
    ).otherwise(F.col("dfreq"))
    # Rounding note: F.round is half-up on the double's exact decimal
    # expansion — for these strictly-positive scores that is the same
    # half-away-from-zero the DuckDB oracle's round() applies, while
    # the broadcast kernel's np.round is half-EVEN.  The three agree
    # everywhere except an exact decimal midpoint at the 6th place,
    # which this expression has never produced on any fixture (the
    # kernel↔oracle hash would have caught it); the cross-path
    # equality test pins the fixture behavior.
    scored = tf.join(dfreq, "term", "left").select(
        "doc_id",
        "term",
        F.round(
            (F.col("cnt") / F.col("dlen"))
            * F.log(F.lit(float(nd)) / dfreq_checked),
            6,
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("doc_id", "term", "tfidf")
    )


@register(
    "pii_redact",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or +1-555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
           md5(regexp_replace(
                 regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                 '{_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
    FROM aug
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count and redact emails/phones per document.

    The fixture corpus contains no PII, so a deterministic synthetic
    email+phone is appended per document before scrubbing — the
    redaction dataflow (scan → regexp_replace chain → projection) is
    what's under test, and it is shuffle-free and codegen'd, the shape
    that lets a scrub pass run at ingest cost over 100 TB.  Output
    carries md5(redacted) rather than the full text to keep the result
    narrow.
    """
    docs = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(aug, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.regexp_count(aug, F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(aug, F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )


@register(
    "sample_stratified",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    WHERE CASE WHEN lang = 'en'
               THEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1','2','3')
               ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
          END
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: ~25% of 'en' documents, ~6.25%
    of everything else, keyed on the first md5 hex digit of doc_id.

    Hash-based sampling (vs ``sample()``'s seeded RNG) is reproducible
    across engines, runs, AND repartitionings — the property a training
    pipeline needs so a re-run selects the identical subset.  It is a
    pure filter: pushed to the scan, no shuffle, and the rate per
    stratum is a config map, not a plan change.
    """
    docs = load_table(spark, sf_dir, "documents")
    digit = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    keep = F.when(
        F.col("lang") == "en", digit.isin("0", "1", "2", "3")
    ).otherwise(digit == "0")
    return docs.filter(keep).select("doc_id", "lang", "source")


@register(
    "dedup_latest",
    oracle="""
    SELECT user_id, event_id, ts, event_type, value
    FROM (
      SELECT user_id, event_id, ts, event_type, value,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    )
    WHERE rn = 1
    """,
)
def dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style latest-record-wins dedup: newest event per user
    (ties broken by highest event_id — a total order, so the survivor
    is unique).

    One shuffle keyed by user_id; rank-1 selection benefits from
    Spark's window TopK pushdown so per-key state is a single row, not
    a sorted buffer — the standard snapshot-compaction shape for
    billions of keys.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        events.select(
            "user_id", "event_id", "ts", "event_type", "value",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "outlier_filter",
    oracle="""
    WITH b AS (
      SELECT quantile_cont(n_chars, 0.05) AS lo,
             quantile_cont(n_chars, 0.95) AS hi
      FROM documents
    )
    SELECT lang,
           count(*)                      AS n_docs,
           CAST(min(n_chars) AS BIGINT)  AS min_chars,
           CAST(max(n_chars) AS BIGINT)  AS max_chars
    FROM documents, b
    WHERE n_chars BETWEEN lo AND hi
    GROUP BY lang
    """,
)
def outlier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-based outlier removal: keep documents whose length lies
    within the corpus [p05, p95], summarized per language.

    The bounds are ONE interpolated-percentile aggregate (a single
    reduce to one row) broadcast back over the scan — the corpus is
    read, not shuffled.  At 100 TB the exact percentile pass would be
    swapped for ``approx_percentile`` (see ``percentile_digest``) with
    the identical plan shape.
    """
    docs = load_table(spark, sf_dir, "documents")
    bounds = docs.agg(
        F.expr("percentile(n_chars, 0.05)").alias("lo"),
        F.expr("percentile(n_chars, 0.95)").alias("hi"),
    )
    return (
        docs.crossJoin(F.broadcast(bounds))
        .filter(F.col("n_chars").between(F.col("lo"), F.col("hi")))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


#: approx_percentile accuracy parameter: guaranteed rank error
#: ≤ n / PCT_DIGEST_ACCURACY (Greenwald-Khanna bound).
PCT_DIGEST_ACCURACY = 10000


@register(
    "percentile_digest",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           -- literal true by design: DuckDB cannot rerun the engine's
           -- Greenwald-Khanna digest, so the rank-bound certificate
           -- arithmetic behind these flags is pinned locally by
           -- tests/test_curation.py::test_percentile_digest_brackets_exact
           -- (which also checks bracketing against the EXACT
           -- quantiles); n_docs above IS recomputed independently and
           -- hash-compared.
           true AS p05_in_bound,
           true AS p50_in_bound,
           true AS p95_in_bound
    FROM documents
    GROUP BY lang
    """,
)
def percentile_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles of document length via
    ``approx_percentile`` — the mergeable-sketch path that replaces
    exact percentiles at scale (per-partition digests merge without a
    global sort; bounded memory).

    The raw estimates are engine-specific, so instead of emitting them
    this query emits per-quantile RANK-BOUND CERTIFICATES the oracle
    can reproduce: each estimate's exact rank interval (values < est,
    values ≤ est — one second aggregation against the broadcast 5-row
    digest result) must intersect the target rank q·n within the
    sketch's guaranteed tolerance max(1, n/accuracy) (+1 interpolation
    slack).  A digest that ever violated its Greenwald-Khanna bound
    would flip a flag to false and fail the driver's hash check — the
    same in-bound-flag pattern approx_distinct uses.  The raw-estimate
    form stays available via ``percentile_digest_raw``; bracketing vs
    the exact path is additionally pinned in tests/test_curation.py.
    """
    docs = load_table(spark, sf_dir, "documents")
    d = percentile_digest_raw(spark, sf_dir)
    # NULL-SAFE join key: a plain equi-join would drop a NULL-lang
    # group (NULL != NULL) that the oracle's GROUP BY lang retains.
    # The fixture has no NULL lang, but the contract shouldn't depend
    # on that.
    left = docs.select("lang", "n_chars")
    j = left.join(
        F.broadcast(d), left["lang"].eqNullSafe(d["lang"])
    ).drop(left["lang"])

    def bounds(est_col: str):
        lo = F.sum((F.col("n_chars") < F.col(est_col)).cast("long"))
        hi = F.sum((F.col("n_chars") <= F.col(est_col)).cast("long"))
        return lo.alias(f"_lo_{est_col}"), hi.alias(f"_hi_{est_col}")

    aggs = []
    for est in ("p05", "p50", "p95"):
        aggs.extend(bounds(est))
    flags = j.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"), *aggs
    )
    tol = F.greatest(
        F.lit(1.0), F.col("n_docs") / F.lit(float(PCT_DIGEST_ACCURACY))
    ) + F.lit(1.0)
    cols = [F.col("lang"), F.col("n_docs")]
    for q, est in ((0.05, "p05"), (0.5, "p50"), (0.95, "p95")):
        target = F.col("n_docs") * F.lit(q)
        in_bound = (F.col(f"_lo_{est}") <= target + tol) & (
            F.col(f"_hi_{est}") >= target - tol
        )
        cols.append(in_bound.alias(f"{est}_in_bound"))
    return flags.select(*cols)


def percentile_digest_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw digest relation: per-lang approx p05/p50/p95 estimates
    plus doc count (what a consumer actually reads; the registered
    query wraps it in oracle-checkable rank-bound certificates)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.expr(
            f"approx_percentile(n_chars, array(0.05, 0.5, 0.95), "
            f"{PCT_DIGEST_ACCURACY})"
        ).alias("p"),
        F.count(F.lit(1)).alias("n_docs"),
    ).select(
        "lang",
        F.col("p")[0].alias("p05"),
        F.col("p")[1].alias("p50"),
        F.col("p")[2].alias("p95"),
        "n_docs",
    )


@register(
    "text_entropy",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    cnt AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 4) AS token_entropy
    FROM cnt
    GROUP BY doc_id
    """,
)
def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the token distribution — the
    classic gibberish/boilerplate detector (low entropy = repetitive
    text, the kind a training pipeline drops).

    Uses the algebraic identity H = log2(n) − Σc·log2(c)/n.  ZERO
    shuffles, like the rest of the per-document text family: a
    document's token multiset is complete inside its Arrow batch, so
    one batch-vectorized kernel tokenizes, hashes every token in a
    single ``pd.util.hash_array`` call (token equality via 64-bit
    fingerprints — deterministic fixed-key siphash; a collision within
    one document has ~1e-16 odds), groups runs with a lexsort, and
    reduces Σc·log2(c) per document with ``np.add.reduceat``.  The
    previous form exploded tokens through two keyed exchanges
    (per-(doc, token) counts, then per-doc sums) — at 100 TB that
    shuffles the corpus's token volume twice for a per-document
    statistic the scan stage can finish.  Rounding stays JVM-side
    (half-up, matching the oracle).
    """
    docs = load_table(spark, sf_dir, "documents", widen=True)

    def kernel(batches):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "doc_id": np.empty(0, dtype=np.int64),
                "n_tokens": np.empty(0, dtype=np.int64),
                "h_raw": np.empty(0, dtype=np.float64),
            }
        )
        for pdf in batches:
            _, flat, di = _batch_tokens(pdf["text"])
            if len(flat) == 0:
                yield empty
                continue
            order, starts, c = _doc_runs(di, pd.util.hash_array(flat))
            c = c.astype(np.float64)
            # runs are doc-contiguous: reduceat over each doc's first run
            rdoc, dstart = np.unique(di[order[starts]], return_index=True)
            n = np.add.reduceat(c, dstart)
            s = np.add.reduceat(c * np.log2(c), dstart)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy()[rdoc].astype("int64"),
                    "n_tokens": n.astype("int64"),
                    "h_raw": np.log2(n) - s / n,
                }
            )

    return (
        docs.select("doc_id", "text")
        .mapInPandas(kernel, schema="doc_id long, n_tokens long, h_raw double")
        .select(
            "doc_id",
            "n_tokens",
            F.round("h_raw", 4).alias("token_entropy"),
        )
    )


#: 1-in-N documents form the "benchmark" probe set for the
#: contamination screen (deterministic, sf-independent).
CONTAM_PROBE_STRIDE = 250

#: 3-gram shingle CTE shared with the dedup oracles.
_SHINGLE_CTE = """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' ')))) AS sh
      FROM toks
    )
"""


@register(
    "contamination_screen",
    oracle=f"""
    {_SHINGLE_CTE},
    probe AS (
      SELECT DISTINCT sh FROM sh WHERE doc_id % {CONTAM_PROBE_STRIDE} = 0
    )
    SELECT doc_id,
           count(DISTINCT s.sh) AS n_probe_hits
    FROM sh s JOIN probe USING (sh)
    WHERE doc_id % {CONTAM_PROBE_STRIDE} != 0
    GROUP BY doc_id
    """,
)
def contamination_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination screen: flag corpus documents sharing
    any 3-gram with a held-out probe set (every {CONTAM_PROBE_STRIDE}th
    document stands in for an eval benchmark).

    ZERO-SHUFFLE plan.  The probe shingle set is tiny relative to the
    corpus (real benchmarks: MMLU, GSM8K, ... — broadcast-sized by
    construction), so it is collected once (the same driver-memory
    contract a broadcast join would impose) as a sorted uint64
    fingerprint array, and ONE corpus kernel both fingerprints each
    document's shingles and counts probe membership with a vectorized
    ``searchsorted`` + per-doc ``add.reduceat`` — each document sits
    wholly inside one Arrow batch, so the per-doc hit counts emitted
    are FINAL: no join, no per-hit shuffle rows, no aggregation
    exchange.  The previous broadcast-join form shuffled one row per
    (doc, matching shingle) — frequent shingles made that a large
    fraction of the corpus relation; this plan's output is bounded by
    flagged docs.  Shingles exist only as 64-bit fingerprints
    (:func:`~s3_manifest_spark.operators.dedup._batch_doc_fps`, one
    ``hash_array`` call per batch); the shingle text is never built.
    """
    import numpy as np

    from s3_manifest_spark.operators.dedup import (
        _batch_doc_fps,
        shingle_fingerprints,
    )

    docs = load_table(spark, sf_dir, "documents", widen=True)
    # Probe side: fingerprint only the probe slice and unique
    # driver-side — bounded by probe-set size.  Deliberately from the
    # UNWIDENED scan: widen_scan's round-robin exchange sits below the
    # filter, so the widened frame would shuffle the whole text column
    # to keep 1% of it; the narrow scan pushes the predicate to the
    # scan and the 1% slice doesn't need the parallelism.
    probe = (
        shingle_fingerprints(
            load_table(spark, sf_dir, "documents").filter(
                F.col("doc_id") % CONTAM_PROBE_STRIDE == 0
            )
        )
        .select("fp")
        .toPandas()["fp"]
        .to_numpy()
    )
    probe_sorted = np.unique(probe.view(np.uint64))
    bc = spark.sparkContext.broadcast(probe_sorted)

    def screen(batches):
        import numpy as np
        import pandas as pd

        pr = bc.value
        empty = pd.DataFrame(
            {
                "doc_id": np.empty(0, dtype=np.int64),
                "n_probe_hits": np.empty(0, dtype=np.int64),
            }
        )
        for pdf in batches:
            if len(pr) == 0:
                yield empty
                continue
            wdoc, fps = _batch_doc_fps(pdf)
            if len(fps) == 0:
                yield empty
                continue
            pos = np.searchsorted(pr, fps)
            pos[pos == len(pr)] = 0
            hit = (pr[pos] == fps).astype(np.int64)
            # wdoc is doc-contiguous: reduceat over first-occurrence
            # offsets gives final per-doc hit counts
            starts = _run_starts(wdoc)
            counts = np.add.reduceat(hit, starts)
            keep = counts > 0
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"]
                    .to_numpy()[wdoc[starts][keep]]
                    .astype("int64"),
                    "n_probe_hits": counts[keep],
                }
            )

    return (
        docs.filter(F.col("doc_id") % CONTAM_PROBE_STRIDE != 0)
        .select("doc_id", "text")
        .mapInPandas(screen, schema="doc_id long, n_probe_hits long")
    )


#: Bloom sizing: bits per distinct probe shingle and hash count.
#: 10 bits/item with k=7 double-hashed probes ≈ 0.8% false positives.
CONTAM_BLOOM_BITS_PER_ITEM = 10
CONTAM_BLOOM_K = 7
#: odd mixer deriving the second hash from the first
#: (Kirsch-Mitzenmacher double hashing over shingle fingerprints —
#: numeric hash_array ignores hash_key, so a second siphash pass
#: would just repeat the first)
_BLOOM_MIX = 0x9E3779B97F4A7C15


def _bloom_geometry(sf_dir: str) -> tuple[int, int]:
    """(m_bits, n_words) sized from the parquet footer (never a Spark
    job): docs × a generous distinct-shingle bound — oversizing wastes
    bits, never correctness.  Shared by the distributed candidates
    build and the certificate's driver-side rebuild so both set
    IDENTICAL bits for the same probe values."""
    n_items = max(
        1024, parquet_row_count(f"{sf_dir}/documents.parquet") * 100
    )
    m_bits = n_items * CONTAM_BLOOM_BITS_PER_ITEM
    return m_bits, (m_bits + 63) // 64


def _bloom_positions(vals, m_bits: int):
    """(k, n) double-hashed bit positions — Kirsch-Mitzenmacher:
    pos_j = (h1 + j·h2) mod m, all uint64, h2 an odd-multiplier mix of
    h1.  Deterministic in the VALUES alone, so any build order (one
    driver pass, partition-local partial bitsets) produces the same
    final bitset."""
    import numpy as np
    import pandas as pd

    h1 = pd.util.hash_array(np.ascontiguousarray(vals))
    j = np.arange(CONTAM_BLOOM_K, dtype=np.uint64)[:, None]
    with np.errstate(over="ignore"):
        h2 = (h1 * np.uint64(_BLOOM_MIX)) | np.uint64(1)
        return (h1[None, :] + j * h2[None, :]) % np.uint64(m_bits)


def contamination_bloom_candidates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bloom-filter decontamination — :func:`contamination_screen`'s
    100 TB form for when even the DISTINCT probe shingle set is too
    big to broadcast as an exact hash set (a full eval-benchmark union
    can reach billions of shingles; an exact set costs ~50 B/entry, a
    Bloom filter {bits} BITS).

    Plan (pyspark exposes no user-facing ``bloom_filter_agg``, so the
    filter is built explicitly — which also makes the memory story
    auditable):

    1. BUILD, distributed: each Arrow batch of the probe side sets
       k={k} double-hashed bit positions (vectorized siphash via
       ``pd.util.hash_array``, ``np.bitwise_or.at`` into a local
       bitset) and emits ONE partition-local bitset row; the driver
       ORs ≤ partitions bitsets — the same partial-merge shape as a
       native bloom aggregate, driver memory = bitset size, not probe
       size.
    2. SCREEN, no join, no exchange: the merged bitset broadcasts;
       ONE corpus kernel fingerprints each document's shingles
       (:func:`~s3_manifest_spark.operators.dedup._batch_doc_fps`),
       tests membership vectorized, and — documents being batch-local
       — emits FINAL per-doc candidate counts.  The corpus never
       shuffles at all.

    Bloom semantics: no false negatives, ~1% false positives — the
    flagged set is a SUPERSET of the exact screen's with per-doc
    counts ≥ the exact counts (pinned in tests/test_curation.py);
    run the exact broadcast join on the survivors when exact hit
    counts are needed.
    """.format(bits=CONTAM_BLOOM_BITS_PER_ITEM, k=CONTAM_BLOOM_K)
    import numpy as np
    import pandas as pd

    from s3_manifest_spark.operators.dedup import (
        _batch_doc_fps,
        shingle_fingerprints,
    )

    # Probe side from the UNWIDENED scan (the widen exchange would sit
    # below the filter and shuffle 100% of the text to keep a slice);
    # no distinct either — duplicate shingles just re-set the same
    # bits, and dropping the exchange is cheaper than deduping.
    probe = shingle_fingerprints(
        load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % CONTAM_PROBE_STRIDE == 0
        )
    ).select("fp")
    m_bits, n_words = _bloom_geometry(sf_dir)
    positions = lambda vals: _bloom_positions(vals, m_bits)  # noqa: E731

    def build(batches):
        bits = np.zeros(n_words, dtype=np.uint64)
        for pdf in batches:
            vals = pdf["fp"].to_numpy()
            if len(vals) == 0:
                continue
            pos = positions(vals).reshape(-1)
            np.bitwise_or.at(
                bits,
                (pos >> np.uint64(6)).astype(np.int64),
                np.uint64(1) << (pos & np.uint64(63)),
            )
        yield pd.DataFrame({"bits": [bits.tobytes()]})

    # toLocalIterator: the driver holds ONE partial bitset at a time
    # while OR-folding (collect() would hold partitions × |bitset| at
    # once — at 1M docs × 200 partitions that is tens of GB; streamed,
    # it is |bitset| + one in flight, honoring the "driver memory =
    # bitset size" contract).
    bloom = np.zeros(n_words, dtype=np.uint64)
    for r in probe.mapInPandas(build, schema="bits binary").toLocalIterator():
        bloom |= np.frombuffer(r["bits"], dtype=np.uint64)
    bc = spark.sparkContext.broadcast(bloom)

    def screen(batches):
        bits = bc.value
        empty = pd.DataFrame(
            {
                "doc_id": np.empty(0, dtype=np.int64),
                "n_candidate_hits": np.empty(0, dtype=np.int64),
            }
        )
        for pdf in batches:
            wdoc, fps = _batch_doc_fps(pdf)
            if len(fps) == 0:
                yield empty
                continue
            pos = positions(fps)  # (k, n)
            word = bits[(pos >> np.uint64(6)).astype(np.int64)]
            hit = (
                ((word >> (pos & np.uint64(63))) & np.uint64(1))
                .all(axis=0)
                .astype(np.int64)
            )
            # wdoc is doc-contiguous and per-doc distinct: reduceat
            # over first-occurrence offsets gives final counts
            starts = _run_starts(wdoc)
            counts = np.add.reduceat(hit, starts)
            keep = counts > 0
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"]
                    .to_numpy()[wdoc[starts][keep]]
                    .astype("int64"),
                    "n_candidate_hits": counts[keep],
                }
            )

    return (
        load_table(spark, sf_dir, "documents", widen=True)
        .filter(F.col("doc_id") % CONTAM_PROBE_STRIDE != 0)
        .select("doc_id", "text")
        .mapInPandas(screen, schema="doc_id long, n_candidate_hits long")
    )


@register(
    "contamination_bloom",
    oracle=f"""
    {_SHINGLE_CTE},
    probe AS (
      SELECT DISTINCT sh FROM sh WHERE doc_id % {CONTAM_PROBE_STRIDE} = 0
    )
    SELECT doc_id,
           count(DISTINCT s.sh) AS n_probe_hits,
           -- literal true by design: DuckDB cannot rerun the engine's
           -- seeded double-hashed bitset, so the flag arithmetic is
           -- pinned locally by tests/test_curation.py::
           -- test_contamination_bloom_supersets_exact_screen and
           -- FALSIFIED by test_bloom_certificate_falsifies (a
           -- partially zeroed bitset must flip the flag); doc_id and
           -- n_probe_hits above ARE recomputed independently and
           -- hash-compared.
           true AS no_false_negative_ok,
           true AS overshoot_ok
    FROM sh s JOIN probe USING (sh)
    WHERE doc_id % {CONTAM_PROBE_STRIDE} != 0
    GROUP BY doc_id
    """,
)
def contamination_bloom(
    spark: SparkSession, sf_dir: str, _zero_bits_frac: float = 0.0
) -> DataFrame:
    """Bloom-screen CERTIFICATE (the ANN-certificate pattern): the raw
    candidate relation (:func:`contamination_bloom_candidates`) is
    seeded-hash-specific, so the registered, driver-hashed output is
    per EXACT-flagged doc — a relation DuckDB recomputes independently
    — plus two flags the bloom contract guarantees deterministically:

    - ``no_false_negative_ok``: the bloom flagged this doc with at
      least the exact hit count (a Bloom filter can never miss a real
      member);
    - ``overshoot_ok`` (global, replicated): total bloom candidate
      hits ≤ 1.10 × exact + 10 — the documented FPR budget at this
      sizing (the filter is deliberately oversized, footer-count ×
      100 items).

    Cost note: ONE fused corpus pass.  The certificate needs both
    screens per document, so its kernel fingerprints each batch ONCE
    (:func:`~s3_manifest_spark.operators.dedup._batch_doc_fps`) and
    tests the fingerprints against BOTH the sorted exact probe array
    and the bloom bitset — instead of running the two standalone
    kernels back to back (two full corpus tokenize+hash passes,
    measured 1.26 s → ~0.8 s at sf0.1).  The bitset is rebuilt
    driver-side from the SAME collected probe fingerprints the exact
    screen already requires: bit positions depend only on the values
    (:func:`_bloom_positions`), so it is identical to the distributed
    build in :func:`contamination_bloom_candidates` — equality of the
    flags against the standalone candidates relation stays pinned by
    tests/test_curation.py::test_contamination_bloom_supersets_exact_screen.
    """
    import numpy as np
    import pandas as pd

    from s3_manifest_spark.operators.dedup import (
        _batch_doc_fps,
        shingle_fingerprints,
    )
    from s3_manifest_spark.registry import track_persist

    # The probe fingerprint set + bloom bitset ARE the contamination
    # filter — a build-once artifact (you build it from the benchmark
    # set once and screen many corpora), so the broadcast model is
    # session-cached like the IVF quantizer; bench.py records the full
    # cold build+screen cost separately (cold_sec).  The test-only
    # breakage path never touches the cache.
    # geometry is needed by the screening kernel on every call (cache
    # hit or not); it is a memoized parquet-footer read, no job
    m_bits, n_words = _bloom_geometry(sf_dir)

    def build_filter():
        probe = (
            shingle_fingerprints(
                load_table(spark, sf_dir, "documents").filter(
                    F.col("doc_id") % CONTAM_PROBE_STRIDE == 0
                )
            )
            .select("fp")
            .toPandas()["fp"]
            .to_numpy()
        )
        probe_sorted = np.unique(probe.view(np.uint64))
        bloom_bits = np.zeros(n_words, dtype=np.uint64)
        if len(probe_sorted):
            pos = _bloom_positions(probe_sorted, m_bits).reshape(-1)
            np.bitwise_or.at(
                bloom_bits,
                (pos >> np.uint64(6)).astype(np.int64),
                np.uint64(1) << (pos & np.uint64(63)),
            )
        if _zero_bits_frac > 0.0:
            # test-only breakage: manufactured false negatives must flip
            # no_false_negative_ok (test_bloom_certificate_falsifies)
            bloom_bits[: int(n_words * _zero_bits_frac)] = 0
        return spark.sparkContext.broadcast((probe_sorted, bloom_bits))

    if _zero_bits_frac == 0.0:
        bc = cached(spark, ("contam_bloom_model", sf_dir), build_filter)
    else:
        bc = build_filter()

    def dual(batches):
        pr, bits = bc.value
        empty = pd.DataFrame(
            {
                "doc_id": np.empty(0, dtype=np.int64),
                "n_probe_hits": np.empty(0, dtype=np.int64),
                "bloom_hits": np.empty(0, dtype=np.int64),
            }
        )
        for pdf in batches:
            wdoc, fps = _batch_doc_fps(pdf)
            if len(fps) == 0:
                yield empty
                continue
            u = fps.view(np.uint64)
            # exact: sorted-array membership
            idx = np.searchsorted(pr, u)
            idx[idx >= len(pr)] = max(len(pr) - 1, 0)
            ex = (pr[idx] == u).astype(np.int64) if len(pr) else np.zeros(
                len(u), dtype=np.int64
            )
            # bloom: all-k bit test
            pos = _bloom_positions(u, m_bits)
            word = bits[(pos >> np.uint64(6)).astype(np.int64)]
            bl = (
                ((word >> (pos & np.uint64(63))) & np.uint64(1))
                .all(axis=0)
                .astype(np.int64)
            )
            starts = _run_starts(wdoc)
            ec = np.add.reduceat(ex, starts)
            bc_cnt = np.add.reduceat(bl, starts)
            keep = (ec > 0) | (bc_cnt > 0)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"]
                    .to_numpy()[wdoc[starts][keep]]
                    .astype("int64"),
                    "n_probe_hits": ec[keep],
                    "bloom_hits": bc_cnt[keep],
                }
            )

    both = track_persist(
        load_table(spark, sf_dir, "documents", widen=True)
        .filter(F.col("doc_id") % CONTAM_PROBE_STRIDE != 0)
        .select("doc_id", "text")
        .mapInPandas(
            dual,
            schema="doc_id long, n_probe_hits long, bloom_hits long",
        )
    )
    totals = both.agg(
        F.sum("bloom_hits").alias("bloom_total"),
        F.sum("n_probe_hits").alias("exact_total"),
    )
    return (
        both.filter(F.col("n_probe_hits") > 0)
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            "n_probe_hits",
            (F.col("bloom_hits") >= F.col("n_probe_hits")).alias(
                "no_false_negative_ok"
            ),
            (
                F.col("bloom_total")
                <= F.lit(1.10) * F.col("exact_total") + F.lit(10)
            ).alias("overshoot_ok"),
        )
    )


@register(
    "domain_mix",
    oracle="""
    WITH per AS (
      SELECT source, lang,
             count(*) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents
      GROUP BY source, lang
    )
    SELECT source, lang, n_docs, n_tokens,
           round(n_tokens * 1.0 / sum(n_tokens) OVER (), 6) AS token_share
    FROM per
    """,
)
def domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix accounting: document and token volume per
    (source, lang) stratum with each stratum's share of total tokens —
    the table a data-mixing policy (e.g. up/down-weighting domains)
    reads.

    One aggregation shuffles short partial rows; the global total is
    an unpartitioned window over the already-aggregated (tiny)
    relation, not over the corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.expr(_TOKENS))).alias("n_tokens"),
    )
    # Global total as a 1-row broadcast cross join rather than an
    # unpartitioned window: same exact integer sum, one fewer exchange
    # of the aggregated relation, and no single-partition WindowExec
    # (whose warning would pollute every full-surface run).
    tot = per.agg(F.sum("n_tokens").alias("_total_tokens"))
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") * 1.0 / F.col("_total_tokens"), 6).alias(
            "token_share"
        ),
    )


FUZZY_PROBE_K = 50  # vocabulary head used to build typo probes
FUZZY_MAX_DIST = 2


@register(
    "fuzzy_join",
    oracle=f"""
    WITH vocab AS (
      SELECT token, count(*) AS n_total
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY token
      ORDER BY n_total DESC, token
      LIMIT {FUZZY_PROBE_K}
    ),
    probes AS (
      -- deterministic "typo": swap the first two characters
      SELECT substr(token, 2, 1) || substr(token, 1, 1) || substr(token, 3)
               AS probe
      FROM vocab WHERE len(token) >= 2
    ),
    tokens AS (SELECT DISTINCT token FROM
               (SELECT unnest(string_split(text, ' ')) AS token FROM documents))
    SELECT p.probe, t.token, levenshtein(p.probe, t.token) AS dist
    FROM probes p
    JOIN tokens t
      ON abs(len(p.probe) - len(t.token)) <= {FUZZY_MAX_DIST}
     AND levenshtein(p.probe, t.token) <= {FUZZY_MAX_DIST}
    """,
)
def fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy string join: match typo'd probe strings (first two
    characters swapped — a deterministic stand-in for dirty entity
    names) back to the vocabulary at levenshtein ≤ {FUZZY_MAX_DIST}.

    The scale pattern is the BLOCKING predicate: an O(|A|·|B|) edit-
    distance cross join is intractable, so candidates are restricted
    first by a cheap band (length difference ≤ max distance — a valid
    upper bound on edit distance) and only candidates pay the O(mn)
    levenshtein.  The probe side is broadcast; at dirty-data scale the
    block key (length, or first-char, or a q-gram bucket) becomes the
    shuffle key and everything else is unchanged.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.expr(_TOKENS)).alias("token"))
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_total"))
        .orderBy(F.col("n_total").desc(), "token")
        .limit(FUZZY_PROBE_K)
    )
    probes = vocab.filter(F.length("token") >= 2).select(
        F.concat(
            F.substring("token", 2, 1),
            F.substring("token", 1, 1),
            F.expr("substr(token, 3)"),
        ).alias("probe")
    )
    tokens = tok.distinct()
    return (
        tokens.join(
            F.broadcast(probes),
            (
                F.abs(F.length("probe") - F.length("token"))
                <= FUZZY_MAX_DIST
            )
            & (F.levenshtein("probe", "token") <= FUZZY_MAX_DIST),
        )
        .select(
            "probe", "token", F.levenshtein("probe", "token").alias("dist")
        )
    )


PACK_BUDGET = 256  # tokens per packed training sequence


@register(
    "pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             COALESCE(CAST(sum(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS BIGINT), 0) AS cum_before
      FROM toks
    )
    SELECT doc_id, source,
           CAST(n_tokens AS BIGINT)                        AS n_tokens,
           CAST(floor(cum_before / {PACK_BUDGET}) AS BIGINT) AS bin_id,
           CAST(cum_before % {PACK_BUDGET} AS BIGINT)        AS bin_offset
    FROM c
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining: assign each document a packed
    {PACK_BUDGET}-token bin (per source) and its token offset within
    the stream — the standard streaming-concatenation packing that
    turns ragged documents into fixed-budget training sequences.

    Semantics: docs are concatenated per source in doc_id order;
    ``bin_id = floor(cumulative_tokens_before / budget)`` — documents
    that straddle a boundary belong to the bin they start in, exactly
    the streaming packer's behavior.  ONE window shuffle partitioned
    by source (never a global single-partition sort — at 100 TB each
    source packs independently, and a skew-heavy source further
    splits by an ingest shard key with identical semantics)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ", -1)).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = toks.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )
    return c.select(
        "doc_id",
        "source",
        "n_tokens",
        F.floor(F.col("cum_before") / PACK_BUDGET).cast("long").alias("bin_id"),
        (F.col("cum_before") % PACK_BUDGET).cast("long").alias("bin_offset"),
    )


WEIGHTED_SAMPLE_K = 50  # expected sample size


def weighted_inclusion(u32, w_total, weight, k: int = WEIGHTED_SAMPLE_K):
    """The all-integer Bernoulli inclusion test u32·ΣW < K·w·2³² as a
    Column, evaluated in decimal(38,0) so neither product can wrap
    int64 (u32 < 2³², so the LHS overflows a long once ΣW > 2³¹ —
    ~2 GiB of corpus text; the RHS wraps for a single ~43 MB doc).
    ANSI-off sessions would wrap silently and corrupt the sample."""
    dec = "decimal(19,0)"  # lossless long container; products widen to (38,0)
    return (
        u32.cast(dec) * w_total.cast(dec)
        < F.lit(k).cast(dec) * weight.cast(dec) * F.lit(4294967296).cast(dec)
    )


@register(
    "sample_weighted",
    oracle=f"""
    WITH tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS w_total FROM documents)
    SELECT doc_id, source,
           CAST(n_chars AS BIGINT) AS weight,
           CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                AS UBIGINT) AS BIGINT) AS u32
    FROM documents, tot
    -- HUGEINT operands: u32 (< 2^32) times a 100 TB-scale ΣW overflows
    -- BIGINT, mirroring the Spark side's decimal(38,0) arithmetic.
    WHERE CAST(CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
               AS UBIGINT) AS HUGEINT) * CAST(w_total AS HUGEINT)
          < {WEIGHTED_SAMPLE_K} * CAST(n_chars AS HUGEINT) * 4294967296
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic size-weighted Bernoulli sampling: include each
    document with probability min(1, K·w/ΣW) where w = n_chars — the
    Poisson-sampling standard for weight-proportional corpus subsets,
    reproducible across engines, runs, and repartitionings.

    The uniform is the first 8 md5 hex chars of doc_id as a 32-bit
    integer, and the inclusion test is rearranged to ALL-INTEGER
    arithmetic (u32·ΣW < K·w·2³²) so there is no float rounding for
    engines to disagree on — the oracle hash is exact by construction,
    not probabilistically.  Both comparison sides run in decimal(38,0)
    (HUGEINT in the oracle): u32 is up to 2³², so the int64 product
    would silently wrap once the corpus passes 2³¹ total chars (~2 GiB
    of text) — exactly the 100 TB regime this plan targets.  Plan: one
    1-row total aggregate broadcast back over the scan (the same
    attach pattern as outlier_filter), a pure filter otherwise — no
    shuffle of the corpus, and at 100 TB the sample materializes in
    one pass."""
    docs = load_table(spark, sf_dir, "documents")
    tot = docs.agg(F.sum("n_chars").cast("long").alias("w_total"))
    u32 = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    return (
        docs.crossJoin(F.broadcast(tot))
        .withColumn("u32", u32)
        .filter(
            weighted_inclusion(F.col("u32"), F.col("w_total"), F.col("n_chars"))
        )
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("long").alias("weight"),
            "u32",
        )
    )


#: Target token share per source for mix rebalancing — set BELOW the
#: fixture's mean share (20 sources -> ~0.05 each) so over-represented
#: sources get real down-sampling rates; a production policy ships its
#: own per-source map.
MIX_TARGET_SHARE = 0.04


@register(
    "mix_rebalance",
    oracle=f"""
    WITH per AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM per)
    SELECT source, n_docs, n_tokens,
           round(n_tokens * 1.0 / total_tokens, 6) AS current_share,
           round(least(1.0, {MIX_TARGET_SHARE} * total_tokens * 1.0 / n_tokens), 6)
             AS sample_rate,
           CAST(round(n_docs * least(1.0,
                {MIX_TARGET_SHARE} * total_tokens * 1.0 / n_tokens), 0) AS BIGINT)
             AS expected_docs
    FROM per CROSS JOIN tot
    """,
)
def mix_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing policy table: the per-source sampling rate that
    moves the corpus toward a target token share (MIX_TARGET_SHARE
    per source here) — rate = min(1, target·ΣT/T_source), plus the
    expected document yield.  This is the step between ``domain_mix``
    accounting and an actual resample (feed the rates into the
    ``sample_weighted``/``sample_stratified`` machinery).

    One aggregation of short rows per source; the total attaches as a
    1-row broadcast cross join over the already-tiny aggregated
    relation — the corpus shuffles nothing but partial counts."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.expr(_TOKENS))).cast("long").alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_tokens").alias("_total_tokens"))
    total = F.col("_total_tokens")
    rate = F.least(
        F.lit(1.0), F.lit(MIX_TARGET_SHARE) * total * 1.0 / F.col("n_tokens")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") * 1.0 / total, 6).alias("current_share"),
        F.round(rate, 6).alias("sample_rate"),
        F.round(F.col("n_docs") * rate, 0).cast("long").alias("expected_docs"),
    )


EPOCH_SEED = "epoch1"
#: Range-sort width for the ordinal assignment (see SORT note in
#: operators/quantiles.py — production sizes this to data volume).
SHUFFLE_PARTITIONS = 8


def global_ordinal(
    df: DataFrame,
    sort_cols: list,
    eager_cleanup: bool = False,
    model_key: tuple | None = None,
) -> DataFrame:
    """Dense 0-based global ordinal under ``sort_cols`` order — the
    DataFrame form of ``zipWithIndex``, built scale-correctly:

    1. one range sort on ``sort_cols`` (distributed, spill-backed);
    2. one metadata pass: per-partition row counts → cumulative
       offsets, collected to the driver (P short rows, bounded by
       partition count, never by data);
    3. one Arrow-batched pass adding ``position = offset + local
       index`` — no window over a single partition anywhere, which is
       what ``row_number() OVER (ORDER BY ...)`` would degenerate to.

    The partition layout must stay frozen between the metadata and
    ordinal passes (offsets are keyed by partition id) — handled by
    ``registry.pin_partitions``, same contract as
    ``quantiles.group_percentiles``: registry queries persist with
    deferred cleanup; library callers pass ``eager_cleanup=True`` for
    a localCheckpoint (lineage truncated, nothing routed through the
    driver, blocks freed on GC).
    """
    from s3_manifest_spark.operators.sort_offsets import (
        cached_sort_meta,
        exclusive_offsets,
        partition_weights,
        pinned_range_sort,
    )

    spark = df.sparkSession
    if model_key is not None:
        # session-model-cached sorted layout (r11; cached_sort_meta
        # docstring has the lifetime contract): repeated ordinal
        # consumers over one relation pay the sort once
        data, meta = cached_sort_meta(
            df,
            SHUFFLE_PARTITIONS,
            sort_cols,
            [],
            F.count(F.lit(1)),
            model_key,
        )
    else:
        data = pinned_range_sort(
            df, SHUFFLE_PARTITIONS, sort_cols, eager_cleanup
        )
        meta = partition_weights(data, [], F.count(F.lit(1)))
    offsets, _ = exclusive_offsets(meta)
    b_off = spark.sparkContext.broadcast(offsets)

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in data.schema.fields
    ) + ", position long"

    def add_ordinal(batches):
        from pyspark import TaskContext

        base = b_off.value.get(TaskContext.get().partitionId(), 0)
        seen = 0
        for pdf in batches:
            pdf = pdf.copy()
            pdf["position"] = range(base + seen, base + seen + len(pdf))
            seen += len(pdf)
            yield pdf

    return data.mapInPandas(add_ordinal, schema=out_schema)


@register(
    "shuffle_epoch",
    oracle=f"""
    SELECT doc_id,
           md5(CAST(doc_id AS VARCHAR) || ':{EPOCH_SEED}') AS shuffle_key,
           CAST(row_number() OVER (
             ORDER BY md5(CAST(doc_id AS VARCHAR) || ':{EPOCH_SEED}'), doc_id
           ) - 1 AS BIGINT) AS position
    FROM documents
    """,
)
def shuffle_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle — the training-order primitive: each
    epoch's document order is a seeded hash permutation (md5 of
    doc_id + epoch seed), with every document's global POSITION
    materialized.  Reshuffling between epochs = change the seed;
    resuming mid-epoch = filter position >= checkpoint — both need the
    ordinal to be stable and exactly reproducible, which is why this
    is hash-oracle-checked.

    The position comes from :func:`global_ordinal` (range sort +
    partition-offset metadata + in-task enumeration).  A naive
    ``row_number() OVER (ORDER BY key)`` collapses the corpus into ONE
    window partition at any scale; this plan's only corpus-wide
    movement is the range sort every epoch write needs anyway.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    keyed = docs.select(
        "doc_id",
        F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit(f":{EPOCH_SEED}"))
        ).alias("shuffle_key"),
    )
    return global_ordinal(keyed, ["shuffle_key", "doc_id"])


# ---------------------------------------------------------------------------
# dataset_split (r11): deterministic hash-based train/val/test split
# ---------------------------------------------------------------------------

#: Split salt + integer hash cuts over the 32-bit md5-prefix space.
#: Hash-based (not seeded-RNG) assignment is the property a training
#: pipeline needs: the same document lands in the same split across
#: engines, runs, repartitionings, AND corpus growth — adding
#: documents never reassigns existing ones (no global sort, no count).
SPLIT_SALT = "split1"
_SPLIT_SPACE = 1 << 32
SPLIT_CUT_TRAIN = (_SPLIT_SPACE * 8) // 10  # [0, 0.8) -> train
SPLIT_CUT_VAL = (_SPLIT_SPACE * 9) // 10    # [0.8, 0.9) -> val; rest test

_SPLIT_HASH_SPARK = (
    "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), "
    f"':{SPLIT_SALT}')), 1, 8), 16, 10) AS BIGINT)"
)
_SPLIT_HASH_DUCK = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || "
    f"':{SPLIT_SALT}'), 1, 8)) AS BIGINT)"
)


def _split_case(hash_expr: str) -> str:
    """The split-assignment CASE, generated once for both engines so
    the cut arithmetic cannot drift."""
    return (
        f"CASE WHEN {hash_expr} < {SPLIT_CUT_TRAIN} THEN 'train' "
        f"WHEN {hash_expr} < {SPLIT_CUT_VAL} THEN 'val' "
        "ELSE 'test' END"
    )


@register(
    "dataset_split",
    oracle=f"""
    SELECT {_split_case(_SPLIT_HASH_DUCK)} AS split,
           lang,
           CAST(count(*) AS BIGINT)           AS n_docs,
           CAST(sum(doc_id) AS BIGINT)        AS id_sum,
           CAST(sum(length(text)) AS BIGINT)  AS text_mass
    FROM documents
    GROUP BY 1, 2
    """,
)
def dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split accounting: every document
    is assigned by the 32-bit md5-prefix of ``doc_id:salt`` against
    integer cuts (80/10/10), rolled up per ``(split, lang)`` with
    document counts, an id-sum MEMBERSHIP certificate (any document
    switching splits moves two id_sums — the oracle hash catches a
    single reassignment), and text mass.

    The assignment itself is a pure codegen'd projection — pushed to
    the scan, no shuffle, no RNG seed to version — so at 100 TB the
    split is a WHERE clause (``split = 'train'``) any consumer applies
    independently, not a materialization step; this query is the audit
    that the cut fractions hold per language stratum."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.selectExpr(
            f"{_split_case(_SPLIT_HASH_SPARK)} AS split",
            "lang",
            "doc_id",
            "length(text) AS text_len",
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("id_sum"),
            F.sum("text_len").alias("text_mass"),
        )
    )


# ---------------------------------------------------------------------------
# heavy_hitters_cms (r11): mergeable Count-Min-Sketch frequency audit
# ---------------------------------------------------------------------------

HH_TOP_N = 30
CMS_EPS = 1e-4   # overestimate bound: est - exact <= eps * total tokens
CMS_CONF = 0.99
CMS_SEED = 42

_HH_ORACLE = f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
top AS (
  SELECT token, CAST(count(*) AS BIGINT) AS exact_count
  FROM tok GROUP BY token
  ORDER BY exact_count DESC, token
  LIMIT {HH_TOP_N}
)
SELECT token, exact_count,
       -- literal true by design (the sketch_hll_merge pattern):
       -- DuckDB cannot rerun the engine's CMS; exact_count IS
       -- independently recomputed and hash-compared, and both flag
       -- computations are falsification-tested locally
       true AS cms_never_under,
       true AS cms_within_eps
FROM top
"""


def _cms_sketch(spark: SparkSession, sf_dir: str) -> bytes:
    """The merged corpus Count-Min Sketch as a session MODEL (raw
    serialized bytes, ``models.py`` kind 'bytes'): built in ONE
    aggregate whose per-partition partials merge associatively, then
    served warm to every heavy-hitter lookup — and persisted/reloaded
    across sessions like the other trained artifacts (a CMS over
    yesterday's corpus IS yesterday's index; estimates are readable
    forever without re-scanning)."""

    def build():
        docs = load_table(spark, sf_dir, "documents", widen=True)
        toks = docs.select(F.explode(F.expr(_TOKENS)).alias("token"))
        return bytes(
            toks.agg(
                F.count_min_sketch(
                    "token", F.lit(CMS_EPS), F.lit(CMS_CONF), F.lit(CMS_SEED)
                ).alias("sk")
            ).collect()[0]["sk"]
        )

    return cached(spark, ("cms_sketch", sf_dir), build)


@register("heavy_hitters_cms", oracle=_HH_ORACLE)
def heavy_hitters_cms(
    spark: SparkSession, sf_dir: str, _drift: int = 0
) -> DataFrame:
    """Heavy-hitter token frequencies via a mergeable Count-Min
    Sketch, certified against the exact counts.

    The 100 TB shape: one pass builds per-partition CMS partials that
    merge associatively inside the aggregate (the shuffle carries
    ~KB sketches, never token counts), exactly like the persisted
    per-day sketches a lambda rollup re-merges for any range.  The
    candidate set here is the exact top-:data:`HH_TOP_N` relation
    (fixture-affordable, and the part the oracle hash certifies);
    estimates are read driver-side from the merged sketch —
    ``HH_TOP_N`` py4j lookups, a documented driver bound.

    Certificate flags (falsified-by-construction in
    tests/test_curation.py):
    - ``cms_never_under`` — CMS estimates are one-sided: est >= exact
      ALWAYS (a HARD guarantee, not probabilistic; any underestimate
      is sketch corruption);
    - ``cms_within_eps`` — est <= exact + ceil(eps * N_total), the
      standard CMS error bound at confidence :data:`CMS_CONF`.

    ``_drift`` is test-only: biasing the estimates must flip flags.
    """
    # token-explosion aggregates (exact top-N + CMS partials) are
    # CPU-dense per byte: keep the exchanges wide (interleaved A/B
    # min-of-5, two windows: −22.4% / −26.9%)
    from s3_manifest_spark.registry import prefer_parallel_exchanges

    prefer_parallel_exchanges(spark)
    import math

    docs = load_table(spark, sf_dir, "documents", widen=True)
    toks = docs.select(F.explode(F.expr(_TOKENS)).alias("token"))
    exact_top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.col("exact_count").desc(), "token")
        .limit(HH_TOP_N)
        .collect()
    )
    sk = spark._jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(
        _cms_sketch(spark, sf_dir)
    )
    slack = math.ceil(CMS_EPS * sk.totalCount())
    rows = []
    for r in exact_top:
        est = sk.estimateCount(r["token"]) + _drift
        rows.append(
            (
                r["token"],
                r["exact_count"],
                bool(est >= r["exact_count"]),
                bool(est <= r["exact_count"] + slack),
            )
        )
    return local_relation(
        spark,
        rows,
        "token string, exact_count long, cms_never_under boolean, "
        "cms_within_eps boolean",
    )
