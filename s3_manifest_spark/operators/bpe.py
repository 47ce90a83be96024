"""Trained BPE tokenizer: distributed merge-rule learning + codegen
apply (SURVEY.md §2B extension).

The tokenizer is the most load-bearing trained artifact of an LLM data
pipeline — token counts, packing budgets, and per-document cost all
depend on it — and ``token_count`` (operators/text.py) only
approximates one with a fixed regex.  This module LEARNS the tokenizer
from the corpus (Sennrich et al.'s byte-pair encoding, the GPT-2/
Llama-family construction) and applies it, Spark-first:

- **Word histogram** (one corpus scan): ``explode(split(text))`` into
  a map-side-combinable ``groupBy(word).count()`` — the shuffle
  carries the VOCABULARY, not the corpus.  Training never touches the
  corpus again; at 100 TB this is the standard trick that makes BPE
  training a vocabulary-sized problem (agglomerating identical words
  first is exact, not an approximation).
- **Merge training** (:data:`N_MERGES` driver-controlled rounds, the
  registry's iterative-trainer pattern like ``similarity_ivf``'s
  Lloyd loop): each round is one combinable aggregation over the
  segmented vocabulary (adjacent symbol pairs weighted by word count)
  + a 1-row argmax collect, then one narrow ``replace`` projection
  re-segments.  Per-round state is persisted and the previous round
  released, so lineage stays flat; driver traffic is ONE row per
  round.  2·R tiny jobs total, all vocabulary-sized.
- **Apply** (``bpe_tokenize``): the trained merge list folds into ONE
  shuffle-free codegen'd projection — R nested literal ``replace``
  calls over the per-document segment string, then a symbol count.
  No Python, no joins, no shuffle; the merges are session-cached like
  the IVF/PQ codebooks.

Segmentation encoding (the determinism contract): a segment string
holds symbols separated by TWO spaces and wrapped by two spaces —
``"  h  e  y  "``.  A merge of (a, b) is the literal (non-regex)
replacement ``' a  b ' → ' ab '``: the single flanking spaces consume
one space of each two-space boundary and the replacement restores
them, so left-to-right non-overlapping ``replace`` — the SAME
semantics in Java (Spark) and DuckDB — implements exactly the greedy
leftmost BPE merge, including overlapping runs (``b b b → bb b``) and
back-to-back matches (``a b a b → ab ab``).  Symbols never contain
spaces, so only whole-symbol matches are possible.  All counts are
exact integers and the tie-break (count desc, left asc, right asc) is
total over ASCII byte order shared by both engines (the documents
fixture is pure ASCII — asserted in tests/test_multimodal_property.py)
— so the learned merge sequence is bit-deterministic and the DuckDB
oracle can RE-TRAIN the tokenizer from scratch (R unrolled
materialized-CTE rounds) and land on the identical merge table.

``bpe_tokenize`` treats the whole document as one segment string with
spaces mapped to a reserved ``'|'`` boundary symbol: merges never
contain ``'|'`` (they are learned within words), so no merge can cross
a word boundary, and the token count is symbols minus boundaries.
(A corpus whose text contains literal ``'|'`` would count it as a
boundary — both engines apply the same convention, so parity holds;
the fixture word pool is alphabetic.)

The reference (/root/reference/src/main.rs) has no text/tokenizer
surface; this extends the declared training-pipeline family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from s3_manifest_spark.registry import cached, register
from s3_manifest_spark.sources.tables import load_table, local_relation

#: merge rounds — the vocabulary-size hyperparameter (real tokenizers
#: run ~30-50k rounds of exactly this loop; the oracle unrolls R
#: materialized CTE rounds, so the fixture setting stays readable).
N_MERGES = 12
_BOUNDARY = "|"
#: driver-path bound (the ml.py trainer's dual-path pattern): when the
#: word HISTOGRAM — already vocabulary-sized, never the corpus — fits
#: under this many rows, collect it once and run the merge loop in
#: pure Python (zero Spark jobs per round; this is also how real BPE
#: trainers work — HuggingFace tokenizers train on a word histogram
#: in one process).  Above the cap the loop stays distributed:
#: per-round combinable pair aggregation + 1-row argmax collect.
VOCAB_DRIVER_CAP = 65536


def _nonempty_tokens(text: Column) -> Column:
    # NB: unary lambda — F.filter's 2-arg form binds the element INDEX
    return F.filter(F.split(text, " "), lambda x: x != F.lit(""))


def _char_seg(s: Column) -> Column:
    """``'hey' → '  h  e  y  '`` — the wrapped two-space encoding."""
    return F.concat(F.lit("  "), F.regexp_replace(s, "(.)", "$1  "))


def _symbols(seg: Column) -> Column:
    return F.filter(F.split(seg, "  "), lambda x: x != F.lit(""))


def _driver_merge_loop(words_pdf) -> list[tuple[str, str, int]]:
    """The merge loop over a collected word histogram — identical
    greedy semantics to the distributed path (path-equivalence is
    pinned by tests/test_bpe.py)."""
    import collections

    words = dict(zip(words_pdf["word"], words_pdf["cnt"]))
    segs = {w: tuple(w) for w in words}
    merges: list[tuple[str, str, int]] = []
    for _ in range(N_MERGES):
        counts: collections.Counter = collections.Counter()
        for w, cnt in words.items():
            s = segs[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] += cnt
        if not counts:
            raise ValueError(
                f"corpus exhausted after {len(merges)} BPE merges; "
                f"{N_MERGES} required"
            )
        (a, b), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((a, b, int(c)))
        for w, s in segs.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            segs[w] = tuple(out)
    return merges


def train_bpe(
    spark: SparkSession, sf_dir: str, force_distributed: bool = False
):
    """Learn :data:`N_MERGES` BPE merges from the documents corpus;
    returns ``[(left, right, pair_count), ...]`` in merge order,
    session-cached per ``sf_dir`` (the build-once/apply-many shape).

    Driver vs distributed strategy chosen by :data:`VOCAB_DRIVER_CAP`
    over the histogram row count; ``force_distributed`` exists for the
    path-equivalence test."""
    if force_distributed:
        return _fit_bpe(spark, sf_dir, force_distributed=True)
    return cached(spark, ("bpe_merges", sf_dir), lambda: _fit_bpe(spark, sf_dir))


def _fit_bpe(
    spark: SparkSession, sf_dir: str, force_distributed: bool = False
):
    """The uncached :func:`train_bpe` build."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(_nonempty_tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    ).persist()
    n_vocab = words.count()

    if n_vocab <= VOCAB_DRIVER_CAP and not force_distributed:
        try:
            merges = _driver_merge_loop(words.toPandas())
        finally:
            words.unpersist(blocking=False)
        return merges

    cur = words.select(_char_seg(F.col("word")).alias("seg"), "cnt").persist()
    words.unpersist(blocking=False)

    merges = []
    try:
        for _ in range(N_MERGES):
            # two-step projection: materialize the symbol array under
            # one name BEFORE zip/slice/explode — reusing the F.filter
            # higher-order expression in two branches of an exploded
            # arrays_zip makes Spark's lambda-variable rewrite lose
            # the slice branch (observed: every zipped `b` NULL)
            pairs = (
                cur.select("cnt", _symbols(F.col("seg")).alias("sy"))
                .select(
                    "cnt",
                    F.explode(
                        F.arrays_zip(
                            F.col("sy").alias("a"),
                            F.slice("sy", 2, 2147483647).alias("b"),
                        )
                    ).alias("p"),
                )
                .filter(F.col("p.b").isNotNull())
                .groupBy(
                    F.col("p.a").alias("a"), F.col("p.b").alias("b")
                )
                .agg(F.sum("cnt").alias("c"))
            )
            best = pairs.orderBy(F.desc("c"), "a", "b").limit(1).collect()
            if not best:
                # fail loud: the oracle unrolls a FIXED R rounds, so a
                # corpus too small to sustain them cannot be graded
                raise ValueError(
                    f"corpus exhausted after {len(merges)} BPE merges; "
                    f"{N_MERGES} required"
                )
            a, b, c = best[0]["a"], best[0]["b"], int(best[0]["c"])
            merges.append((a, b, c))
            nxt = cur.select(
                F.replace(
                    F.col("seg"),
                    F.lit(f" {a}  {b} "),
                    F.lit(f" {a}{b} "),
                ).alias("seg"),
                "cnt",
            ).persist()
            nxt.count()  # materialize before releasing the parent
            cur.unpersist(blocking=False)
            cur = nxt
    finally:
        cur.unpersist(blocking=False)

    return merges


def _train_ctes() -> str:
    """The shared unrolled-training CTE chain (words → seg0 → R rounds
    of pair-count / argmax / re-segment).  Every seg/best CTE is
    MATERIALIZED: segN and bestN are each referenced more than once,
    and inlined CTEs would expand the chain exponentially."""
    parts = [
        """words AS MATERIALIZED (
  SELECT tok AS word, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        FROM documents)
  GROUP BY tok
),
seg0 AS MATERIALIZED (
  SELECT '  ' || regexp_replace(word, '(.)', '\\1  ', 'g') AS seg, cnt FROM words
)"""
    ]
    for r in range(N_MERGES):
        a = f"(SELECT a FROM b{r})"
        b = f"(SELECT b FROM b{r})"
        parts.append(
            f"""p{r} AS (
  SELECT pr[1] AS a, pr[2] AS b, CAST(sum(cnt) AS BIGINT) AS c
  FROM (SELECT cnt,
               unnest(list_zip(sy, list_slice(sy, 2, 2147483647))) AS pr
        FROM (SELECT cnt,
                     list_filter(string_split(seg, '  '), x -> x <> '') AS sy
              FROM seg{r}))
  WHERE pr[2] IS NOT NULL
  GROUP BY 1, 2
),
b{r} AS MATERIALIZED (SELECT a, b, c FROM p{r} ORDER BY c DESC, a, b LIMIT 1),
seg{r + 1} AS MATERIALIZED (
  SELECT replace(seg, ' ' || {a} || '  ' || {b} || ' ',
                      ' ' || {a} || {b} || ' ') AS seg, cnt
  FROM seg{r}
)"""
        )
    return ",\n".join(parts)


def _train_oracle() -> str:
    finals = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS step, a AS lhs, b AS rhs, "
        f"a || b AS merged, c AS pair_count FROM b{r}"
        for r in range(N_MERGES)
    )
    return f"WITH {_train_ctes()}\n{finals}"


@register("bpe_train", oracle=_train_oracle())
def bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merge table: ``(step, lhs, rhs, merged,
    pair_count)`` — :data:`N_MERGES` rows in training order.

    The oracle RE-TRAINS from scratch (R unrolled materialized-CTE
    rounds of pair-count → deterministic argmax → literal-replace
    re-segmentation), so a hash match certifies the whole greedy
    trajectory: word histogram, segmentation encoding, weighted pair
    counts, tie order, and merge application."""
    merges = train_bpe(spark, sf_dir)
    rows = [
        (r, a, b, a + b, c) for r, (a, b, c) in enumerate(merges)
    ]
    return local_relation(
        spark, rows, "step long, lhs string, rhs string, merged string, pair_count long"
    )


def _tokenize_oracle() -> str:
    seg = (
        "'  ' || regexp_replace(replace(text, ' ', '|'), '(.)', '\\1  ', 'g')"
    )
    for r in range(N_MERGES):
        a = f"(SELECT a FROM b{r})"
        b = f"(SELECT b FROM b{r})"
        seg = (
            f"replace({seg}, ' ' || {a} || '  ' || {b} || ' ', "
            f"' ' || {a} || {b} || ' ')"
        )
    return f"""
WITH {_train_ctes()}
SELECT doc_id,
       CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
            AS BIGINT) AS n_words,
       n_syms - n_bars AS n_bpe_tokens,
       n_chars,
       CASE WHEN n_syms - n_bars > 0
            THEN round(CAST(n_chars AS DOUBLE) / (n_syms - n_bars), 6)
       END AS chars_per_token
FROM (
  SELECT doc_id, text,
         CAST(len(list_filter(string_split({seg}, '  '), x -> x <> ''))
              AS BIGINT) AS n_syms,
         CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT)
           AS n_bars,
         CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars
  FROM documents
)
"""


@register("bpe_tokenize", oracle=_tokenize_oracle())
def bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token accounting under the TRAINED tokenizer:
    ``(doc_id, n_words, n_bpe_tokens, n_chars, chars_per_token)``.

    One shuffle-free codegen'd projection: the document becomes a
    single segment string (spaces → the reserved boundary symbol),
    the R trained merges apply as nested literal replaces, and the
    token count is symbols minus boundaries.  The oracle re-trains
    the merges in SQL and applies the same chain — certifying that
    TRAINED tokenization, not just counting, matches end-to-end."""
    merges = train_bpe(spark, sf_dir)
    seg: Column = _char_seg(
        F.replace(F.col("text"), F.lit(" "), F.lit(_BOUNDARY))
    )
    for a, b, _ in merges:
        seg = F.replace(seg, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
    docs = load_table(spark, sf_dir, "documents")
    n_syms = F.size(_symbols(seg)).cast("long")
    n_bars = (
        F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
    ).cast("long")
    n_tok = (n_syms - n_bars).alias("n_bpe_tokens")
    n_chars = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast(
        "long"
    )
    return docs.select(
        "doc_id",
        F.size(_nonempty_tokens(F.col("text"))).cast("long").alias("n_words"),
        n_tok,
        n_chars.alias("n_chars"),
        F.when(
            (n_syms - n_bars) > 0,
            F.round(n_chars.cast("double") / (n_syms - n_bars), 6),
        ).alias("chars_per_token"),
    )
