"""Property tests for the pure-numpy text kernels: the shared
tokenizer and run count (`s3_manifest_spark.operators.text._batch_tokens`
and `_doc_runs`, under every pandas text kernel) and the shingle-
fingerprint kernel (`s3_manifest_spark.operators.dedup._batch_doc_fps`)
— the numpy core under shingle_fingerprints, the contamination screen,
and the bloom screen.  Pure-Python/numpy: no SparkSession needed.

The tokenizer, the run count and the TF-IDF per-(doc, term) count
(`s3_manifest_spark.operators.curation._term_counts`) are pinned
against ``str.split(" ")`` and ``collections.Counter``, including NULL
texts, empty strings, empty tokens and non-ASCII tokens.

Shingle-kernel contract pinned against a naive reference:
- one output row per DISTINCT 3-gram per document, doc-contiguous;
- the same shingle text maps to the same fingerprint in every
  document (cross-doc consistency is what makes fingerprint equality
  a valid stand-in for shingle equality);
- distinct shingles in the sample map to distinct fingerprints
  (64-bit space vs a handful of shingles — a collision here would be
  a kernel bug, not bad luck);
- NULL text and docs shorter than the window produce no rows.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from s3_manifest_spark.operators.curation import _term_counts
from s3_manifest_spark.operators.dedup import SHINGLE_W, _batch_doc_fps
from s3_manifest_spark.operators.text import _batch_tokens, _doc_runs

token = st.sampled_from(["a", "bb", "ccc", "", "dd", "e", "longertoken"])
doc_text = st.one_of(
    st.none(),
    st.lists(token, min_size=0, max_size=25).map(lambda t: " ".join(t)),
)


def naive_shingles(text):
    if text is None:
        return set()
    t = text.split(" ")
    return {
        tuple(t[i : i + SHINGLE_W]) for i in range(len(t) - SHINGLE_W + 1)
    }


@settings(max_examples=200, deadline=None)
@given(st.lists(doc_text, min_size=0, max_size=12))
def test_batch_doc_fps_matches_naive_reference(texts):
    pdf = pd.DataFrame(
        {"doc_id": list(range(1000, 1000 + len(texts))), "text": texts}
    )
    wdoc, fps = _batch_doc_fps(pdf)

    # doc-contiguous row indices
    assert list(wdoc) == sorted(wdoc)

    # group rows per doc row-index
    per_doc: dict[int, list[int]] = {}
    for d, f in zip(wdoc, fps):
        per_doc.setdefault(int(d), []).append(int(f))

    shingle_to_fp: dict[tuple, int] = {}
    for row_idx, text in enumerate(texts):
        ref = naive_shingles(text)
        got = per_doc.get(row_idx, [])
        # one row per distinct shingle
        assert len(got) == len(ref), (row_idx, text)
        assert len(set(got)) == len(got), "duplicate fp within one doc"
        # cross-doc consistency: same shingle text -> same fp.  Map
        # each doc's shingles to its fps by recomputing the kernel on
        # the single doc (fingerprints are position-independent, so
        # the single-doc run must reproduce the batch run's fps).
        solo_doc, solo_fps = _batch_doc_fps(
            pd.DataFrame({"doc_id": [0], "text": [text]})
        )
        assert sorted(int(f) for f in solo_fps) == sorted(got), (
            "batch vs solo fingerprint mismatch",
            text,
        )
    # distinct shingles across the whole batch -> distinct fps
    all_shingles = set()
    all_fps = set()
    for text in texts:
        all_shingles |= naive_shingles(text)
    for fp_list in per_doc.values():
        all_fps |= set(fp_list)
    assert len(all_fps) == len(all_shingles)


word = st.sampled_from(["a", "bb", "", "x", "naïve", "μл", "💡"])
any_text = st.one_of(
    st.none(),
    st.just(""),
    st.lists(word, min_size=1, max_size=15).map(" ".join),
)


def naive_tokens(texts):
    return [t.split(" ") if t is not None else [] for t in texts]


@settings(max_examples=300, deadline=None)
@given(st.lists(any_text, max_size=12))
def test_batch_tokens_match_naive_split(texts):
    lens, flat, di = _batch_tokens(pd.Series(texts, dtype=object))
    ref = naive_tokens(texts)
    assert (lens.dtype, flat.dtype, di.dtype) == (np.int64, object, np.int64)
    assert list(flat) == [w for toks in ref for w in toks]
    assert list(lens) == [len(toks) for toks in ref]
    assert list(di) == [d for d, toks in enumerate(ref) for _ in toks]


@settings(max_examples=300, deadline=None)
@given(st.lists(any_text, max_size=12))
def test_doc_runs_count_each_documents_tokens(texts):
    _, flat, di = _batch_tokens(pd.Series(texts, dtype=object))
    key = pd.util.hash_array(flat)
    order, starts, counts = _doc_runs(di, key)
    assert sorted(order) == list(range(len(flat)))
    assert counts.sum() == len(flat)
    got: dict[int, Counter] = {}
    for s, c in zip(starts, counts):
        run = order[s : s + c]
        # a run is one (doc, token) group, contiguous in sorted order
        assert len(set(di[run])) == 1 and len(set(flat[run])) == 1
        got.setdefault(int(di[run[0]]), Counter())[flat[run[0]]] = int(c)
    ref = {d: Counter(toks) for d, toks in enumerate(naive_tokens(texts)) if toks}
    assert got == ref


@settings(max_examples=200, deadline=None)
@given(st.lists(any_text, max_size=12))
def test_term_counts_match_per_document_counter(texts):
    """The TF-IDF fit and both scorers read one entry per distinct
    (document, term): its count and the document's length."""
    ref = naive_tokens(texts)
    tf = _term_counts(pd.Series(texts, dtype=object))
    if not any(ref):
        assert tf is None
        return
    row, code, cnt, dlen, terms = tf
    got = {
        (int(r), terms[c]): (int(n), int(n_doc))
        for r, c, n, n_doc in zip(row, code, cnt, dlen)
    }
    assert len(got) == len(row)
    want = {
        (d, w): (n, len(toks))
        for d, toks in enumerate(ref)
        for w, n in Counter(toks).items()
    }
    assert got == want


@pytest.mark.parametrize("texts", [[], [None], [None, None, None]])
def test_tokenless_batches_give_empty_arrays(texts):
    lens, flat, di = _batch_tokens(pd.Series(texts, dtype=object))
    assert list(lens) == [0] * len(texts)
    assert len(flat) == 0 and len(di) == 0
    order, starts, counts = _doc_runs(di, pd.util.hash_array(flat))
    assert len(order) == len(starts) == len(counts) == 0
