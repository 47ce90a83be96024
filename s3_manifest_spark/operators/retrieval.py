"""BM25 full-text retrieval over the documents corpus.

The curation family already ranks *terms per document*
(``tfidf_topterms``, operators/curation.py); a training-data pipeline
also needs the inverse — rank *documents for a query* — for targeted
corpus audits ("show me the docs about X") and contamination triage.
This module adds Okapi BM25 (Robertson et al.; the Lucene-default
scoring function) as a pure-Catalyst plan:

- **Stats pass** (the "index"): ONE map-side-combinable aggregation
  over the corpus producing a single row — N, Σ|d| (avgdl), and one
  conditional-sum document frequency per query term.  No explode, no
  shuffle of token rows: per-term df is ``SUM(array_contains(...))``
  pushed into the same aggregate.
- **Score pass**: the 1-row stats frame broadcast-crossJoins the
  corpus; per-document term frequencies are ``size(tokens) -
  size(array_remove(tokens, t))`` array expressions (whole-stage
  codegen, zero Python, zero shuffle), the BM25 sum is unrolled over
  the fixed query terms, and the global top-k is a TakeOrdered merge
  of per-partition partial top-ks.

At 100 TB this is two corpus scans and nothing else: a combinable
aggregate and a shuffle-free projection + bounded top-k — there is no
join keyed on anything, no skew surface, and driver traffic is one
stats row plus k result rows.

Determinism contract: every count is an exact integer; avgdl is one
double division of exact integers; the scoring constants (k1=1.2,
b=0.75, k1+1=2.2, 1-b=0.25) enter BOTH engines as literal decimals
cast to double (never computed, so 2.2 is the same bit pattern on
both sides); the per-term contributions sum left-associatively in
query-term order and round to 6 dp before the (score desc, doc_id)
top-k cut — so the boundary of the LIMIT is engine-independent.

The reference (/root/reference/src/main.rs) has no text surface; this
extends the declared SURVEY.md §2B curation/retrieval family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from s3_manifest_spark.operators.text import _term_count
from s3_manifest_spark.registry import register
from s3_manifest_spark.sources.tables import load_table

#: fixed audit query — four in-vocabulary terms plus one guaranteed
#: out-of-vocabulary term ('zebra': df=0 exercises the idf edge and
#: contributes 0 to every score).
BM25_QUERY_TERMS = ("table", "scan", "window", "merge", "zebra")
BM25_TOP_K = 25
#: Okapi constants — literal decimals, never computed (see contract).
BM25_K1 = "1.2"
BM25_K1P1 = "2.2"
BM25_B = "0.75"
BM25_1MB = "0.25"


def _toks(text: Column) -> Column:
    return F.array_remove(F.split(text, " "), "")


def _bm25_oracle() -> str:
    terms = BM25_QUERY_TERMS
    dfs = ",\n         ".join(
        f"CAST(sum(CASE WHEN list_contains(tk, '{t}') THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS df{i}"
        for i, t in enumerate(terms)
    )
    tfs = ",\n         ".join(
        f"CAST(len(list_filter(tk, x -> x = '{t}')) AS DOUBLE) AS tf{i}"
        for i, t in enumerate(terms)
    )
    contribs = "\n         + ".join(
        f"ln(((n - df{i} + 0.5) / (df{i} + 0.5)) + 1.0)"
        f" * ((tf{i} * CAST({BM25_K1P1} AS DOUBLE))"
        f" / (tf{i} + CAST({BM25_K1} AS DOUBLE)"
        f" * (CAST({BM25_1MB} AS DOUBLE)"
        f" + ((CAST({BM25_B} AS DOUBLE) * dl) / avgdl))))"
        for i in range(len(terms))
    )
    return f"""
WITH toks AS MATERIALIZED (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS tk
  FROM documents
),
st AS (
  SELECT count(*) AS n,
         CAST(sum(len(tk)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl,
         {dfs}
  FROM toks
),
pd AS (
  SELECT doc_id, CAST(len(tk) AS DOUBLE) AS dl,
         {tfs}
  FROM toks
)
SELECT doc_id,
       round({contribs}, 6) AS bm25
FROM pd CROSS JOIN st
ORDER BY bm25 DESC, doc_id
LIMIT {BM25_TOP_K}
"""

@register("bm25_topk", oracle=_bm25_oracle())
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} documents for the fixed audit query under Okapi BM25.

    idf(t) = ln((N - df + 0.5)/(df + 0.5) + 1)  (Lucene variant —
    strictly positive, so stopword-frequent terms demote rather than
    flip sign); tf saturates via k1, length-normalizes via b.
    Returns (doc_id, bm25) — scores rounded to 6 dp, k rows.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tk = _toks(F.col("text"))

    stats = docs.agg(
        F.count("*").alias("n"),
        (
            F.sum(F.size(tk)).cast("double") / F.count("*").cast("double")
        ).alias("avgdl"),
        *[
            F.sum(F.array_contains(tk, t).cast("bigint")).alias(f"df{i}")
            for i, t in enumerate(BM25_QUERY_TERMS)
        ],
    )

    scored = docs.select(
        "doc_id",
        F.size(tk).cast("double").alias("dl"),
        *[
            _term_count(tk, (t,)).cast("double").alias(f"tf{i}")
            for i, t in enumerate(BM25_QUERY_TERMS)
        ],
    ).crossJoin(F.broadcast(stats))

    k1 = F.expr(f"CAST({BM25_K1} AS DOUBLE)")
    k1p1 = F.expr(f"CAST({BM25_K1P1} AS DOUBLE)")
    b = F.expr(f"CAST({BM25_B} AS DOUBLE)")
    omb = F.expr(f"CAST({BM25_1MB} AS DOUBLE)")
    half = F.lit(0.5)

    score: Column | None = None
    for i in range(len(BM25_QUERY_TERMS)):
        df_i = F.col(f"df{i}")
        idf = F.log(
            ((F.col("n") - df_i + half) / (df_i + half)) + F.lit(1.0)
        )
        tf = F.col(f"tf{i}")
        contrib = idf * (
            (tf * k1p1)
            / (tf + k1 * (omb + ((b * F.col("dl")) / F.col("avgdl"))))
        )
        score = contrib if score is None else score + contrib

    return (
        scored.select("doc_id", F.round(score, 6).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(BM25_TOP_K)
    )



