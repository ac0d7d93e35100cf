"""N-gram language-model perplexity filtering (CCNet, Wenzek et al.
2020: docs are kept/bucketed by LM perplexity; the public pipeline uses
a KenLM 5-gram — this is the same operator with a bigram LM whose exact
arithmetic a SQL oracle can replay).

Spark-first shape, everything JVM-side Column math:

- ``train_bigram_lm``: two groupBy counts over exploded bigrams
  (map-side combined), plus the vocabulary size — the model IS a
  DataFrame, so a 100-TB training corpus never funnels through the
  driver.
- ``doc_log_perplexity``: explode each doc's bigrams once, LEFT-join
  the count tables on (w1, w2) / (w1,), add-k smooth, average
  -log P(w2|w1) per doc.  Returns CROSS-ENTROPY in nats (log-domain
  perplexity): numerically stable and oracle-comparable where
  ``exp(·)`` would amplify float-sum ordering noise past tolerance.

Smoothing: P(w2|w1) = (c(w1,w2) + k) / (c(w1·) + k·V) — unseen pairs
and unseen contexts fall out of the same formula via COALESCE(0).
Tokenization is lowercase alpha runs, chosen because Spark and DuckDB
express it identically (regexp split + empty filter)."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _tokens(text_col: str):
    return F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"),
        lambda t: t != F.lit(""),
    )


def _bigrams(corpus: DataFrame, text_col: str, id_col: str) -> DataFrame:
    t = _tokens(text_col).alias("toks")
    return (
        corpus.select(F.col(id_col), t)
        .where(F.size("toks") >= 2)
        .select(
            id_col,
            F.explode(F.arrays_zip(
                F.expr("slice(toks, 1, size(toks) - 1)").alias("w1"),
                F.expr("slice(toks, 2, size(toks) - 1)").alias("w2"),
            )).alias("bg"),
        )
        .select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )


def train_bigram_lm(
    corpus: DataFrame, text_col: str = "text", id_col: str = "doc_id",
) -> dict:
    """{pair_counts, context_counts, vocab_size} — the distributed model.
    Two shuffles (both map-side combined) + one distinct count."""
    bg = _bigrams(corpus, text_col, id_col)
    pair = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    # context counts fold from the (already tiny) pair table — identical
    # values to re-counting the corpus, minus a full tokenize + shuffle
    ctx = pair.groupBy("w1").agg(F.sum("c12").alias("c1"))
    vocab = (
        corpus.select(F.explode(_tokens(text_col)).alias("w"))
        .agg(F.countDistinct("w").alias("v")).collect()[0]["v"]
    )
    return {"pair": pair, "ctx": ctx, "vocab": int(vocab)}


def doc_log_perplexity(
    corpus: DataFrame,
    lm: dict,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, n_bigrams, log_ppl) — per-doc cross-entropy in nats under the
    bigram LM, add-k smoothed with k = 0.5.  Docs with < 2 tokens produce
    no row (no bigram evidence, matching CCNet's length floor)."""
    k = 0.5
    bg = _bigrams(corpus, text_col, id_col)
    kv = k * lm["vocab"]
    scored = (
        bg.join(lm["pair"], ["w1", "w2"], "left")
        .join(lm["ctx"], ["w1"], "left")
        .select(
            id_col,
            F.log(
                (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(k))
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(kv))
            ).alias("lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        (-F.avg("lp")).alias("log_ppl"),
    )
