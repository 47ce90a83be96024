"""Text-analysis operators for an LLM training-data pipeline
(SURVEY.md §2B extension surface): corpus stats, quality scoring,
token counting, heuristic language-ID, document fingerprinting.

Every query here is one scan plus (at most) one map-side-combinable
aggregate.  That shape is what makes these safe at 100 TB of
documents: the scan parallelism is the only knob that matters.  Most
are built-in array/string expressions; :func:`text_repetition` is a
batch-vectorized pandas kernel.

The token rule: a document's tokens are ``text.split(" ")`` — split on
every single space, so ``""`` is one empty token, and a NULL text has
no tokens.  It is Spark's ``split(text, ' ', -1)`` and DuckDB's
``string_split(text, ' ')``.  Every pandas text kernel (here, in
``dedup`` and in ``curation``) tokenizes through :func:`_batch_tokens`
and counts equal tokens (or n-grams) per document through
:func:`_doc_runs`; a kernel over rows already grouped by document
finds each document's first row with :func:`_run_starts`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from s3_manifest_spark.registry import register
from s3_manifest_spark.sources.tables import load_table

#: Whitespace tokens (documents fixture is space-separated).
_TOKENS = "split(text, ' ', -1)"


def _term_count(tokens: Column, terms) -> Column:
    """How many elements of the string array ``tokens`` are in
    ``terms``: the size drop after one ``array_remove`` per term.
    Built-ins stay in whole-stage codegen, where ``size(filter(tokens,
    w -> w IN terms))`` is a lambda Spark evaluates row by row.  A NULL
    array counts ``size(NULL)``, as the filter form does."""
    rest = tokens
    for t in terms:
        rest = F.array_remove(rest, t)
    return F.when(tokens.isNull(), F.size(tokens)).otherwise(
        F.size(tokens) - F.size(rest)
    )


#: BPE-ish lexer: alpha runs, digit runs, single other non-space chars.
#: Same regex is valid in Java (Spark) and RE2 (DuckDB).
_BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

#: Tiny per-language stopword marker sets for the heuristic lang-id.
#: Deterministic, not linguistically serious — the fixture vocabulary is
#: synthetic; what matters is that Spark and the oracle agree exactly.
_LANG_MARKERS = {
    "en": ("the", "a", "of", "and"),
    "es": ("el", "la", "de", "y"),
    "de": ("der", "die", "das", "und"),
    "fr": ("le", "la", "de", "et"),
}


def _batch_tokens(texts):
    """``(lens, flat, di)`` for one Arrow batch's text column: tokens
    per document (int64), every token in document order (object), and
    each token's document index (int64).  Empty arrays when the batch
    has no token."""
    from itertools import chain

    import numpy as np

    toks = [t.split(" ") if t is not None else [] for t in texts]
    lens = np.fromiter(map(len, toks), dtype=np.int64, count=len(toks))
    flat = np.fromiter(
        chain.from_iterable(toks), dtype=object, count=int(lens.sum())
    )
    di = np.repeat(np.arange(len(toks), dtype=np.int64), lens)
    return lens, flat, di


def _doc_runs(doc, key):
    """``(order, starts, counts)``: the runs of equal ``(doc, key)``
    rows.  ``order`` lexsorts the rows by ``(doc, key)``; ``starts``
    indexes the first row of each run in that sorted order (so
    ``order[starts]`` are the runs' rows in the input); ``counts`` are
    the run lengths."""
    import numpy as np

    order = np.lexsort((key, doc))
    starts = _run_starts(doc[order], key[order])
    counts = np.diff(np.append(starts, len(key)))
    return order, starts, counts


def _run_starts(*keys):
    """Indexes of the rows that start a run of equal rows in the
    equal-length arrays ``keys``: row 0, and every row where some key
    differs from the row before (empty for no rows)."""
    import numpy as np

    first = np.zeros(len(keys[0]), dtype=bool)
    first[:1] = True
    for k in keys:
        first[1:] |= k[1:] != k[:-1]
    return np.flatnonzero(first)


@register(
    "text_stats",
    oracle=f"""
    SELECT lang,
           count(*)                                                 AS doc_count,
           CAST(sum(n_chars) AS BIGINT)                             AS total_chars,
           round(avg(len(string_split(text, ' '))), 4)              AS avg_tokens,
           CAST(max(len(string_split(text, ' '))) AS BIGINT)        AS max_tokens
    FROM documents
    GROUP BY lang
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus shape per language: doc counts, char volume, token stats."""
    docs = load_table(spark, sf_dir, "documents")
    ntok = F.size(F.expr(_TOKENS))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("doc_count"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg(ntok), 4).alias("avg_tokens"),
        F.max(ntok).cast("long").alias("max_tokens"),
    )


@register(
    "token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT)             AS ws_tokens,
           CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT) AS bpe_tokens,
           CAST(length(text) AS BIGINT)                             AS n_chars
    FROM documents
    """,
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token accounting: whitespace tokens and a BPE-ish
    regex lexer (alpha runs / digit runs / single symbols)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.expr(_TOKENS)).cast("long").alias("ws_tokens"),
        F.regexp_count(F.col("text"), F.lit(_BPE_RE)).cast("long").alias("bpe_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


@register(
    "text_quality",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           round(length(replace(text, ' ', '')) * 1.0
                 / greatest(len(string_split(text, ' ')), 1), 4) AS avg_word_len,
           round(len(list_filter(string_split(text, ' '),
                                 w -> w IN ('the', 'a', 'of', 'and', 'in'))) * 1.0
                 / greatest(len(string_split(text, ' ')), 1), 4) AS stopword_ratio,
           round(len(list_distinct(string_split(text, ' '))) * 1.0
                 / greatest(len(string_split(text, ' ')), 1), 4) AS distinct_ratio
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features: mean word length, stopword ratio,
    vocabulary diversity.  The usual cheap pre-filters before expensive
    dedup/training steps — one narrow projection, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    ntok = F.greatest(F.size(F.expr(_TOKENS)), F.lit(1))
    stop = _term_count(F.expr(_TOKENS), ("the", "a", "of", "and", "in"))
    return docs.select(
        "doc_id",
        F.size(F.expr(_TOKENS)).cast("long").alias("n_tokens"),
        F.round(F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / ntok, 4).alias(
            "avg_word_len"
        ),
        F.round(stop / ntok, 4).alias("stopword_ratio"),
        F.round(F.size(F.array_distinct(F.expr(_TOKENS))) / ntok, 4).alias(
            "distinct_ratio"
        ),
    )


def _lang_score_sql(lang: str) -> str:
    markers = ", ".join(f"'{w}'" for w in _LANG_MARKERS[lang])
    return (
        f"len(list_filter(string_split(text, ' '), w -> w IN ({markers})))"
    )


@register(
    "lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang AS labeled_lang,
             {_lang_score_sql('en')} AS s_en,
             {_lang_score_sql('es')} AS s_es,
             {_lang_score_sql('de')} AS s_de,
             {_lang_score_sql('fr')} AS s_fr
      FROM documents
    )
    SELECT doc_id, labeled_lang,
           CASE
             WHEN s_en = 0 AND s_es = 0 AND s_de = 0 AND s_fr = 0 THEN 'und'
             WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
             WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
             WHEN s_de >= s_fr THEN 'de'
             ELSE 'fr'
           END AS predicted_lang
    FROM scored
    """,
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic with a fixed priority order on
    ties and 'und' when nothing matches.  A real system would swap the
    marker sets for char-n-gram profiles; the dataflow (scan → score →
    argmax, no shuffle) is the part that must scale."""
    docs = load_table(spark, sf_dir, "documents")

    s = {lang: _term_count(F.expr(_TOKENS), m) for lang, m in _LANG_MARKERS.items()}
    predicted = (
        F.when(
            (s["en"] == 0) & (s["es"] == 0) & (s["de"] == 0) & (s["fr"] == 0), "und"
        )
        .when((s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] >= s["fr"]), "en")
        .when((s["es"] >= s["de"]) & (s["es"] >= s["fr"]), "es")
        .when(s["de"] >= s["fr"], "de")
        .otherwise("fr")
    )
    return docs.select(
        "doc_id", F.col("lang").alias("labeled_lang"), predicted.alias("predicted_lang")
    )


@register(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
             AS fingerprint
    FROM documents
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive bag-of-words fingerprint: md5 over the sorted
    distinct token set.  Robust to token reordering (the cheapest
    near-dup signal); md5 is bit-identical across engines, so this one
    IS oracle-checkable, unlike seeded minhash."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(
            F.array_join(F.array_sort(F.array_distinct(F.expr(_TOKENS))), " ")
        ).alias("fingerprint"),
    )


@register(
    "text_repetition",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    g AS (
      SELECT doc_id, t,
             CASE WHEN len(t) >= 2 THEN
               list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
             ELSE [] END AS g2,
             CASE WHEN len(t) >= 3 THEN
               list_transform(range(1, len(t) - 1),
                              i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
             ELSE [] END AS g3
      FROM toks
    )
    SELECT doc_id,
           round(CASE WHEN len(g2) > 0
                 THEN 1 - len(list_distinct(g2)) * 1.0 / len(g2)
                 ELSE 0 END, 4) AS dup_2gram_ratio,
           round(CASE WHEN len(g3) > 0
                 THEN 1 - len(list_distinct(g3)) * 1.0 / len(g3)
                 ELSE 0 END, 4) AS dup_3gram_ratio,
           round(list_max(list_transform(list_distinct(t),
                          d -> len(list_filter(t, w -> w = d)))) * 1.0
                 / len(t), 4) AS top_token_share
    FROM g
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition signals — the Gopher-style quality
    rules that catch boilerplate and degenerate generations: fraction
    of duplicated 2-grams / 3-grams and the most-frequent token's
    share of the document.

    ZERO shuffles: a document's token sequence is complete inside its
    Arrow batch, so one batch-vectorized kernel (the text_entropy /
    ``dedup._batch_doc_fps`` pattern) computes all three signals in
    a single pass — one ``pd.util.hash_array`` over every token in the
    batch, n-gram identity via 64-bit rolling fingerprints, distinct
    counts and the per-doc max token run via :func:`_doc_runs`.  The
    previous form was built-in array HOFs, but its top-token scan was
    O(distinct × tokens) PER DOCUMENT and the n-gram transforms built
    2·tokens fresh strings per doc — the kernel is O(tokens·log tokens)
    vectorized (sf0.1: 1.17 s → ~0.4 s, and the 10×-data row drops from
    3.0× to ~linear-in-work).  Collision odds for 64-bit fps within one
    doc are ~1e-12, deterministic (fixed-key siphash), same argument as
    text_entropy.  Widened scan: per-doc kernel work dominates, and the
    single-row-group fixture would otherwise run one task wide
    (widen_scan is a no-op at real layouts).
    """
    docs = load_table(spark, sf_dir, "documents", widen=True)

    def kernel(batches):
        import numpy as np
        import pandas as pd

        def dup_ratio(fp, wdoc, ndocs):
            """1 - distinct/total n-gram fingerprints per doc (0 where
            the doc has no n-grams)."""
            total = np.bincount(wdoc, minlength=ndocs).astype(np.float64)
            order, starts, _ = _doc_runs(wdoc, fp)
            distinct = np.bincount(
                wdoc[order[starts]], minlength=ndocs
            ).astype(np.float64)
            with np.errstate(invalid="ignore", divide="ignore"):
                r = 1.0 - distinct / total
            r[total == 0] = 0.0
            return r

        for pdf in batches:
            # token-less docs still get a row: the oracle's CASE emits
            # 0/0/NULL for them
            lens, flat, di = _batch_tokens(pdf["text"])
            ndocs = len(lens)
            th = pd.util.hash_array(flat)
            # top token count per doc: the longest run of equal hashes
            order, starts, runlen = _doc_runs(di, th)
            top = np.zeros(ndocs, dtype=np.float64)
            np.maximum.at(top, di[order[starts]], runlen)
            with np.errstate(invalid="ignore", divide="ignore"):
                share = top / lens.astype(np.float64)
            # token-less docs have NO top token: emit NULL, not NaN —
            # Spark treats NaN as a distinct non-null double, which
            # would diverge from the oracle's NULL (ADVICE r7).  The
            # nullable Float64 extension array crosses Arrow as a
            # double column with nulls.
            share_out = pd.array(share, dtype="Float64")
            share_out[lens == 0] = pd.NA
            # n-gram fingerprints (within-doc windows only)
            with np.errstate(over="ignore"):
                B = np.uint64(1099511628211)
                f2_all = th[:-1] * B + th[1:]
                f3_all = th[:-2] * (B * B) + th[1:-1] * B + th[2:]
            ok2 = di[:-1] == di[1:]
            ok3 = di[:-2] == di[2:]
            r2 = dup_ratio(f2_all[ok2], di[:-1][ok2], ndocs)
            r3 = dup_ratio(f3_all[ok3], di[:-2][ok3], ndocs)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy().astype("int64"),
                    "r2": r2,
                    "r3": r3,
                    "share": share_out,
                }
            )

    return (
        docs.select("doc_id", "text")
        .mapInPandas(
            kernel, schema="doc_id long, r2 double, r3 double, share double"
        )
        .select(
            "doc_id",
            F.round("r2", 4).alias("dup_2gram_ratio"),
            F.round("r3", 4).alias("dup_3gram_ratio"),
            F.round("share", 4).alias("top_token_share"),
        )
    )
