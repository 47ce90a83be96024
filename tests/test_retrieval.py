"""BM25 retrieval: soundness vs a pure-Python recompute, ranking
shape, OOV-term neutrality (oracle parity rides
test_oracle_parity.py's sweep)."""

from __future__ import annotations

import math

import numpy as np

from s3_manifest_spark.operators import retrieval as rt
from s3_manifest_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"


def _python_bm25(docs_pdf, terms):
    toks = [
        [t for t in text.split(" ") if t] for text in docs_pdf["text"]
    ]
    n = len(toks)
    avgdl = sum(len(tk) for tk in toks) / n
    k1, b = 1.2, 0.75
    dfs = {t: sum(1 for tk in toks if t in tk) for t in terms}
    out = {}
    for doc_id, tk in zip(docs_pdf["doc_id"], toks):
        s = 0.0
        for t in terms:
            tf = tk.count(t)
            idf = math.log((n - dfs[t] + 0.5) / (dfs[t] + 0.5) + 1.0)
            s += idf * (tf * 2.2) / (tf + k1 * (0.25 + (b * len(tk)) / avgdl))
        out[int(doc_id)] = round(s, 6)
    return out


def test_topk_matches_python_recompute(spark):
    res = rt.bm25_topk(spark, SF).toPandas()
    assert len(res) == rt.BM25_TOP_K
    docs = load_table(spark, SF, "documents").select("doc_id", "text").toPandas()
    expect = _python_bm25(docs, rt.BM25_QUERY_TERMS)
    # the returned rows must be the k best under (score desc, doc_id)
    order = sorted(expect.items(), key=lambda kv: (-kv[1], kv[0]))
    want = dict(order[: rt.BM25_TOP_K])
    got = dict(zip(res["doc_id"].astype(int), res["bm25"]))
    assert set(got) == set(want)
    for d in got:
        assert abs(got[d] - want[d]) < 2e-6, (d, got[d], want[d])


def test_scores_positive_and_descending_from_term_hits(spark):
    res = rt.bm25_topk(spark, SF).toPandas()
    assert (res["bm25"] > 0).all()
    top = res.sort_values(["bm25", "doc_id"], ascending=[False, True])
    assert np.array_equal(top["doc_id"].to_numpy(), res.sort_values(
        ["bm25", "doc_id"], ascending=[False, True])["doc_id"].to_numpy())


def test_oov_term_has_zero_df_and_contributes_nothing(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text").toPandas()
    with_oov = _python_bm25(docs, rt.BM25_QUERY_TERMS)
    without = _python_bm25(
        docs, tuple(t for t in rt.BM25_QUERY_TERMS if t != "zebra")
    )
    assert with_oov == without  # 'zebra' never occurs: tf=0 everywhere
    assert not any("zebra" in text.split() for text in docs["text"])


def test_codegen_token_counts_equal_the_lambda_forms(spark):
    """The built-in token expressions of ``bm25_topk``, ``text_quality``
    and ``lang_id`` equal the ``filter(..., lambda)`` forms they
    replace, row for row, on NULL, empty, all-space and repeated-term
    texts.  A NULL text keeps ``size(NULL)`` (-1 with ANSI off) where
    a bare size difference would give 0."""
    from pyspark.sql import functions as F

    from s3_manifest_spark.operators.text import _LANG_MARKERS, _TOKENS, _term_count
    from s3_manifest_spark.sources.tables import local_relation

    texts = [None, "", " ", "    ", "table table scan", " the a  of the ",
             "zebra", "merge\tmerge merge  window", "the the THE the", "la de la y"]
    docs = local_relation(spark, [(t,) for t in texts], "text string")
    old_tk = F.filter(F.split("text", " "), lambda x: x != F.lit(""))
    new_tk = rt._toks(F.col("text"))
    pairs = [(F.size(old_tk), F.size(new_tk))] + [
        (F.size(F.filter(old_tk, lambda x: x == F.lit(t))), _term_count(new_tk, (t,)))
        for t in rt.BM25_QUERY_TERMS
    ] + [
        (F.expr(f"size(filter({_TOKENS}, w -> w IN ({', '.join(repr(w) for w in ws)})))"),
         _term_count(F.expr(_TOKENS), ws))
        for ws in [("the", "a", "of", "and", "in"), *_LANG_MARKERS.values()]
    ]
    got = docs.select(
        (old_tk == new_tk).alias("same_tokens"),
        *[c for p in pairs for c in p],
    ).collect()
    for text, row in zip(texts, got):
        assert row.same_tokens is (None if text is None else True), text
        vals = list(row)[1:]
        assert vals[0::2] == vals[1::2], (text, vals)
    assert list(got[0])[1] == -1
