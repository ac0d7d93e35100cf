"""Sequence packing: concat-and-chunk documents into fixed-length
training blocks (the GPT-2/3 data-prep step: the tokenized corpus is one
deterministic stream, split into L-token sequences; documents crossing a
boundary are split across the two sequences).

The core is a corpus-wide running token offset.  A naive
``Window.orderBy(id)`` cumsum collapses to ONE partition at scale, so the
offset is computed in two levels, all declaratively:

  1. bucket docs by id range; per-bucket token sums are a tiny aggregate
     (one row per bucket),
  2. exclusive prefix over the bucket sums — a window over the TINY
     bucket table — broadcast-joined back,
  3. within-bucket exclusive cumsum — a window partitioned BY BUCKET,
     so no single reducer sees the corpus.

Doc spans then map to blocks with pure arithmetic + one bounded
``sequence``/``explode`` (a doc touches ceil(n_i/L)+1 blocks).  No UDFs,
no driver actions, deterministic for any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from freemap_tiler_spark.functions.text import ws_token_count

BUCKET_SIZE = 4096  # doc ids per bucket of the two-level running offset


def pack_map(
    df: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    n_tokens_col: str | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Doc→sequence assignment map.

    Returns one row per (document × sequence it lands in):
    (seq_id, id_col, doc_tok_start, doc_tok_end, seq_tok_start) — the
    half-open token range [doc_tok_start, doc_tok_end) of the doc placed
    at offset seq_tok_start inside sequence seq_id.  Order inside a
    sequence is by ascending id (the deterministic stream order).

    ``n_tokens_col`` names a precomputed length column; otherwise
    whitespace token counts of ``text_col`` are used.  Zero-token docs
    emit nothing.
    """
    from pyspark.sql.types import NumericType

    id_field = df.schema[id_col]
    if not isinstance(id_field.dataType, NumericType):
        # id/BUCKET_SIZE on a string id casts to NULL buckets and the
        # bucket join silently drops every row — fail loudly instead
        raise TypeError(
            f"pack_map requires a numeric id column for the deterministic "
            f"stream order; {id_col!r} is {id_field.dataType.simpleString()} "
            f"(map string/hash ids to a dense numeric id first)"
        )
    n_tok = (
        F.col(n_tokens_col) if n_tokens_col
        else ws_token_count(F.col(text_col))
    ).cast("long")
    base = df.select(F.col(id_col), n_tok.alias("_n")).where(F.col("_n") > 0)
    b = base.withColumn("_bkt", (F.col(id_col) / BUCKET_SIZE).cast("long"))

    # level 1+2: exclusive prefix over per-bucket sums (tiny table)
    bsums = b.groupBy("_bkt").agg(F.sum("_n").alias("_bsum"))
    wb = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    bpre = bsums.select(
        "_bkt", F.coalesce(F.sum("_bsum").over(wb), F.lit(0)).alias("_bpre")
    )

    # level 3: within-bucket exclusive cumsum, partitioned by bucket
    wi = (
        Window.partitionBy("_bkt")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = (
        b.join(F.broadcast(bpre), "_bkt")
        .withColumn(
            "_off", F.col("_bpre") + F.coalesce(F.sum("_n").over(wi), F.lit(0))
        )
    )

    # arithmetic block cover: doc [off, off+n) hits blocks off//L .. (off+n-1)//L
    L = F.lit(seq_len).cast("long")
    first = (F.col("_off") / L).cast("long")
    last = ((F.col("_off") + F.col("_n") - 1) / L).cast("long")
    ex = off.select(
        F.col(id_col), "_n", "_off",
        F.explode(F.sequence(first, last)).alias("seq_id"),
    )
    return ex.select(
        "seq_id",
        id_col,
        F.greatest(F.col("seq_id") * L - F.col("_off"), F.lit(0))
        .alias("doc_tok_start"),
        F.least((F.col("seq_id") + 1) * L - F.col("_off"), F.col("_n"))
        .alias("doc_tok_end"),
        F.greatest(F.col("_off") - F.col("seq_id") * L, F.lit(0))
        .alias("seq_tok_start"),
    )


def pack_summary(
    df: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    n_tokens_col: str | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Per-sequence fill summary: (seq_id, n_docs, n_tokens, n_pad).

    Every sequence except the last is exactly full (n_pad = 0); the last
    carries the stream tail.  The invariant sum(n_tokens) == corpus token
    count makes this the contract-checkable face of :func:`pack_map`.
    """
    m = pack_map(df, seq_len, id_col, n_tokens_col, text_col)
    return (
        m.groupBy("seq_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.col("doc_tok_end") - F.col("doc_tok_start"))
            .cast("bigint")
            .alias("n_tokens"),
        )
        .withColumn(
            "n_pad", (F.lit(seq_len).cast("long") - F.col("n_tokens")).cast("bigint")
        )
    )
