"""N-gram language-model perplexity scoring (SURVEY.md §2.11 X28).

The model-based quality filter of corpus curation: CCNet (Wenzek et al.
2019) scores every document with a language-model perplexity and keeps the
low-perplexity (head/middle) fraction; Gopher, LLaMA and most subsequent
pretraining pipelines kept the construction.  The reference has no model
surface — this is a north-star extension (like X23's BM25) built from
public constructs only: an add-k-smoothed bigram LM (Jurafsky & Martin
ch. 3) trained *in-engine* on a corpus DataFrame, scored as one lazy
DataFrame plan.  Real pipelines swap a KenLM for the bigram table; the
operator keeps the exact shape (train → per-doc NLL → percentile gate)
while staying deterministic and oracle-replayable in ANSI SQL.

Scale shape at 100 TB:

- **Training is ONE corpus shuffle.** Bigram pairs are built map-side from
  each token array (``transform(sequence(...))`` — no window, no
  self-join), exploded, and counted with a map-side-combined
  ``groupBy(w1, w2)``.  Unigram counts need NO second corpus pass: with a
  BOS prefix every token occurrence appears exactly once as a pair's
  second element, so unigrams are a re-aggregation of the (vocab²-bounded)
  bigram table.  Vocabulary selection, unk-folding, and context totals all
  operate on model-sized frames.
- **Scoring is map-side until the per-doc reduce.** Pairs explode
  map-side; the vocab (≤ ``vocab_size`` rows) and the one-row V frame
  broadcast; the bigram/context tables broadcast when Catalyst's size
  estimate fits (`plan_fits_broadcast`) and fall back to shuffle joins on
  the pair key otherwise.  The only unavoidable shuffle is the final
  ``groupBy(doc)`` average.
- The model itself is a set of small DataFrames — persist/load round-trips
  through parquet (`save_ngram_lm` / `load_ngram_lm`), so one training
  pass amortizes over every later scoring run, like X22's signature index
  and X23's postings.

Determinism: counts are exact integers; log-probabilities are doubles —
round before hashing in declared queries (the x3/x23 discipline).
Tokenization reuses X23's cross-engine-parity class (ASCII-whitespace
split, lowercased) so Spark, DuckDB, and the pure-Python test reference
agree token-for-token.

Sentinel collision: BOS/UNK are the literal strings ``<s>`` / ``<unk>``
(the KenLM/SRILM convention).  A document whose *text* contains the token
``<s>`` or ``<unk>`` folds into the sentinel — the standard, documented
trade; pipelines that must distinguish pre-filter them.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from r_e_hive__spark.functions import sql_ident
from r_e_hive__spark.operators import plan_fits_broadcast
from r_e_hive__spark.operators.ranking import tokenize_sql

BOS = "<s>"
UNK = "<unk>"


def _bigram_pairs(text_col: str) -> Column:
    """array<struct<w1,w2>> of (predecessor, token) transitions of the
    column named ``text_col``, built entirely map-side from the token
    array (``ranking.tokenize_sql``): pair i is
    (BOS if i == 1 else tok[i-1], tok[i]).  A T-token document yields
    exactly T pairs; empty/NULL text yields an empty array (the caller's
    explode then drops the row — an unscorable document)."""
    from r_e_hive__spark.functions.text import bind_once

    def build(toks: Column) -> Column:
        # toks is a bound lambda variable (bind_once): the old form's
        # element_at(tokenize(text), …) re-tokenized the document TWICE
        # PER TOKEN inside the transform lambda (interpreted-HOF subtree
        # re-evaluation — see bind_once) — O(tokens²) regex work per doc
        n = F.size(toks)
        idx = F.sequence(F.lit(1), n)
        pairs = F.transform(
            idx,
            lambda i: F.struct(
                F.when(i == 1, F.lit(BOS))
                .otherwise(F.element_at(toks, (i - 1).cast("int")))
                .alias("w1"),
                F.element_at(toks, i.cast("int")).alias("w2"),
            ),
        )
        return F.when(n > 0, pairs).otherwise(
            F.array().cast("array<struct<w1:string,w2:string>>")
        )

    return bind_once(F.expr(tokenize_sql(sql_ident(text_col))), build)


def _exploded_pairs(df: DataFrame, text_col: str, *keep) -> DataFrame:
    """(``*keep``, w1, w2) — one row per transition, map-only."""
    return df.select(
        *keep, F.explode(_bigram_pairs(text_col)).alias("_p")
    ).select(*keep, "_p.w1", "_p.w2")


@dataclass(frozen=True)
class NGramLM:
    """A trained bigram LM as model-sized DataFrames.

    - ``vocab``  — (term, count): the kept vocabulary, unigram-count
      ordered; everything else folds to UNK.
    - ``bigrams`` — (w1, w2, cnt): unk-folded transition counts; ``w1``
      ranges over vocab ∪ {BOS, UNK}, ``w2`` over vocab ∪ {UNK}.
    - ``contexts`` — (w1, ctx_cnt): Σ_w2 cnt — the smoothing denominator.
    - ``stats`` — one row, ``v`` = |vocab| + 1 (the UNK event): the
      add-k event-space size.  BOS is excluded — it never occurs as w2.
    - ``add_k`` — the smoothing constant baked in at train time (a model
      parameter: scoring with a different k than the denominator was
      normalized for would not be the same model).
    """

    vocab: DataFrame
    bigrams: DataFrame
    contexts: DataFrame
    stats: DataFrame
    add_k: float


def train_ngram_lm(
    df: DataFrame,
    text_col: str,
    vocab_size: int | None = None,
    min_count: int = 1,
    add_k: float = 0.5,
    materialize: bool = True,
) -> NGramLM:
    """Train the add-k bigram LM on a corpus — one corpus-sized shuffle.

    ``vocab_size``: keep the top-N terms by unigram count (ties broken by
    term, ascending — deterministic under any partitioning);
    ``min_count``: drop terms rarer than this *before* the top-N cut.
    Everything out-of-vocabulary (in training AND scoring) folds to UNK,
    which therefore absorbs the tail's probability mass — the standard
    open-vocabulary construction.  Note min_count=1 with no vocab_size
    keeps EVERY distinct token: the vocab then only broadcasts if the
    corpus vocabulary does — corpus-scale training sets one of the two.

    ``materialize`` (default): eagerly localCheckpoint the raw bigram
    table, so the model's four frames all derive from ONE executed
    corpus pass instead of re-running it per consumer (vocab, bigrams,
    and scoring's two unk-fold joins would otherwise each replay it —
    the shared-subplan re-execution class from the round-5 reviews).
    Pass False to keep the model fully lazy (plan-inspection tests).
    """
    if add_k <= 0:
        raise ValueError(f"add_k must be > 0, got {add_k}")
    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    raw = (
        _exploded_pairs(df, text_col)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("cnt"))
    )
    if materialize:
        raw = raw.localCheckpoint(eager=True)
    # Every token occurrence is exactly one pair's w2 (BOS prefix), so
    # unigram counts are a re-aggregation of the bigram table — no second
    # pass over the corpus.
    unigrams = raw.groupBy(F.col("w2").alias("term")).agg(
        F.sum("cnt").alias("count")
    )
    vocab = unigrams.where(F.col("count") >= min_count)
    if vocab_size is not None:
        if vocab_size < 1:
            raise ValueError(f"vocab_size must be >= 1, got {vocab_size}")
        vocab = vocab.orderBy(
            F.desc("count"), F.asc("term")
        ).limit(vocab_size)
    bigrams = (
        _fold_unk(raw, vocab)
        .groupBy("w1", "w2")
        .agg(F.sum("cnt").alias("cnt"))
    )
    contexts = bigrams.groupBy("w1").agg(F.sum("cnt").alias("ctx_cnt"))
    stats = vocab.agg((F.count("*") + F.lit(1)).alias("v"))
    return NGramLM(
        vocab=vocab,
        bigrams=bigrams,
        contexts=contexts,
        stats=stats,
        add_k=add_k,
    )


def _fold_unk(pairs: DataFrame, vocab: DataFrame) -> DataFrame:
    """Replace out-of-vocabulary w1/w2 with UNK via two broadcast joins
    against the (model-sized) vocab.  BOS on the w1 side passes through —
    it is a position marker, not a vocabulary item."""
    v1 = F.broadcast(vocab.select(F.col("term").alias("_t1")))
    v2 = F.broadcast(vocab.select(F.col("term").alias("_t2")))
    return (
        pairs.join(v1, F.col("w1") == F.col("_t1"), "left")
        .join(v2, F.col("w2") == F.col("_t2"), "left")
        .select(
            F.when(F.col("w1") == BOS, F.lit(BOS))
            .otherwise(F.coalesce("_t1", F.lit(UNK)))
            .alias("w1"),
            F.coalesce("_t2", F.lit(UNK)).alias("w2"),
            *[c for c in pairs.columns if c not in ("w1", "w2")],
        )
    )


def score_perplexity(
    df: DataFrame,
    model: NGramLM,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Per-document LM statistics: ``(id_col, n_tokens, avg_logp, ppl)``.

    avg_logp = (1/T) Σ ln P(w_i | w_{i-1}) over the document's T
    transitions (BOS → w_1 included, no EOS — a quality *filter* scores
    per-token surprisal; a terminating event would only shift every doc
    by a length-dependent constant); ppl = exp(−avg_logp).

    P(w2 | w1) = (c(w1,w2) + k) / (c(w1,·) + k·V) — add-k over the
    unk-folded tables.  An unseen context (a vocab term that never
    occurred as a predecessor) degrades to the uniform 1/V, by
    ``coalesce(cnt, 0)`` on both joins rather than a special case.

    Documents with no tokens (NULL/empty/whitespace text) are absent from
    the result — unscorable; `perplexity_filter` (and `percentile_gate`)
    treat them as droppable, the CCNet behavior.  Exactly one shuffle
    when the model broadcasts: the final per-doc aggregation.
    """
    pairs = _fold_unk(_exploded_pairs(df, text_col, id_col), model.vocab)
    big = model.bigrams.select("w1", "w2", F.col("cnt").alias("_bcnt"))
    ctx = model.contexts.select("w1", F.col("ctx_cnt").alias("_ccnt"))
    if plan_fits_broadcast(big):
        big = F.broadcast(big)
    if plan_fits_broadcast(ctx):
        ctx = F.broadcast(ctx)
    k = F.lit(float(model.add_k))
    logp = F.ln(
        (F.coalesce("_bcnt", F.lit(0)) + k)
        / (F.coalesce("_ccnt", F.lit(0)) + k * F.col("v"))
    )
    return (
        pairs.join(big, ["w1", "w2"], "left")
        .join(ctx, ["w1"], "left")
        .crossJoin(F.broadcast(model.stats))
        .select(id_col, logp.alias("_lp"))
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            F.avg("_lp").alias("avg_logp"),
            F.exp(-F.avg("_lp")).alias("ppl"),
        )
    )


def perplexity_filter(
    df: DataFrame,
    model: NGramLM,
    text_col: str,
    id_col: str,
    keep_fraction: float = 0.5,
    group_cols=(),
    strategy: str = "approx",
) -> DataFrame:
    """Keep the lowest-perplexity ``keep_fraction`` of documents — the
    CCNet cut (their "head"+"middle" split is two chained fractions),
    optionally per group (per language, per source).  Composes
    `score_perplexity` with `quality.percentile_gate` on ``avg_logp``
    (higher avg log-prob == lower perplexity == better), inheriting the
    gate's exact/approx strategy contract and its score-boundary
    determinism.  Returns the input rows (all columns) plus
    ``n_tokens``/``avg_logp``/``ppl``; token-less documents drop (NULL
    score contract)."""
    from r_e_hive__spark.operators.quality import percentile_gate

    scored = score_perplexity(df, model, text_col, id_col)
    enriched = df.join(scored, [id_col], "left")
    return percentile_gate(
        enriched,
        "avg_logp",
        keep_fraction,
        group_cols=group_cols,
        strategy=strategy,
    )


_MODEL_PARTS = ("vocab", "bigrams", "contexts", "stats")


def save_ngram_lm(model: NGramLM, path: str) -> None:
    """Persist the model as four parquet tables under ``path`` (plus the
    smoothing constant as a one-row frame) — the amortization layout:
    train once, score every later increment (X22's index discipline)."""
    for part in _MODEL_PARTS:
        getattr(model, part).write.mode("overwrite").parquet(
            os.path.join(path, part)
        )
    spark = model.stats.sparkSession
    spark.createDataFrame(
        [(float(model.add_k),)], "add_k double"
    ).write.mode("overwrite").parquet(os.path.join(path, "params"))


def load_ngram_lm(spark: SparkSession, path: str) -> NGramLM:
    parts = {
        part: spark.read.parquet(os.path.join(path, part))
        for part in _MODEL_PARTS
    }
    add_k = spark.read.parquet(os.path.join(path, "params")).head()[0]
    return NGramLM(add_k=float(add_k), **parts)
