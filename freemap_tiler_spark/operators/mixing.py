"""Training-data domain mixture sampling.

The standard LLM-corpus recipe (alpha-smoothing of domain shares, as used
for multilingual sampling in XLM / mBERT / mT5: p_d ∝ n_d^alpha) expressed
as a declarative Spark plan: one tiny groupBy for the domain counts, one
1-row total, a broadcast join of the per-domain keep-rate back onto the
corpus, and a DETERMINISTIC per-row hash filter — no RNG, no collect, no
UDFs, so the exact same sample falls out on every run, any partitioning,
any cluster size, and a SQL oracle can replay it row-for-row.

100 TB shape: the only full-corpus work is one map-side-combined count per
domain (output = #domains rows) and one broadcast-joined filter scan.
Nothing shuffles the corpus itself; the sample decision is a pure column
expression on (id, domain), so predicate pushdown and AQE coalescing apply
as usual.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from freemap_tiler_spark.functions.text import md5_fingerprint

TWO_60 = float(1 << 60)


def sample_unit(id_col) -> Column:
    """Deterministic uniform-[0,1) draw per id: md5-60(id || ':mix') / 2^60.

    Engine/oracle-identical (same construction as the dedup fingerprint
    family); the salt decorrelates this draw from other id-hash uses.
    """
    return (
        md5_fingerprint(F.concat(F.col(id_col).cast("string"), F.lit(":mix")))
        / F.lit(TWO_60)
    )


def domain_rates(
    df: DataFrame,
    domain_col: str = "source",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-domain rates for alpha-smoothed resampling.

    Target share of domain d is p_d = n_d^alpha / sum_e n_e^alpha; with the
    corpus size N as the row budget, the rate is N * p_d / n_d: above 1
    for cold domains (``domain_mix_epochs`` repeats them), below 1 for hot
    ones.  Returns (domain_col, n_d, rate).
    """
    counts = df.groupBy(domain_col).agg(F.count("*").alias("n_d"))
    tot = counts.agg(
        F.sum(F.pow(F.col("n_d").cast("double"), F.lit(alpha))).alias("wsum"),
        F.sum("n_d").alias("n_tot"),
    )
    # 1-row broadcast: the scalar total rides along every domain row
    return counts.crossJoin(F.broadcast(tot)).select(
        domain_col,
        "n_d",
        (F.col("n_tot").cast("double")
         * F.pow(F.col("n_d").cast("double"), F.lit(alpha))
         / F.col("wsum") / F.col("n_d")).alias("rate"),
    )


def mix_audit(
    df: DataFrame,
    domain_col: str = "source",
    id_col: str = "doc_id",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-domain audit of the alpha-smoothed down-sampling mixture:
    input size, kept size, keep-rate.

    The keep-rate is min(1, rate_d): hot domains are down-sampled toward
    the smoothed share, cold domains are kept whole (no replication).  Row
    r of domain d is kept iff sample_unit(r.id) < the keep-rate.  Returns
    (domain_col, n_in, n_out, rate) — n_out is exact, not expected-value:
    the sample is deterministic across runs and partitionings.
    """
    rates = domain_rates(df, domain_col, alpha).withColumn(
        "rate", F.least(F.lit(1.0), F.col("rate")))
    kept = (
        df.join(F.broadcast(rates), domain_col)
        .where(sample_unit(id_col) < F.col("rate"))
        .groupBy(domain_col)
        .agg(F.count("*").alias("n_out"))
    )
    return (
        rates.join(kept, domain_col, "left")
        .select(
            domain_col,
            F.col("n_d").cast("bigint").alias("n_in"),
            F.coalesce(F.col("n_out"), F.lit(0)).cast("bigint").alias("n_out"),
            "rate",
        )
    )


def domain_mix_epochs(
    df: DataFrame,
    domain_col: str = "source",
    id_col: str = "doc_id",
    alpha: float = 0.5,
) -> DataFrame:
    """Alpha-smoothed mixture WITH upsampling (the full mT5/XLM recipe:
    low-resource domains repeat across epochs).  The unclamped rate_d may
    exceed 1; row r of domain d appears

        n_copies(r) = floor(rate_d) + [ sample_unit(r) < frac(rate_d) ]

    times, tagged ``epoch`` 0..n_copies-1, so per-domain output size is
    deterministic and within 1 row-draw of n_d * rate_d.  Rows with
    n_copies = 0 vanish (that's the down-sampling case).
    """
    rates = domain_rates(df, domain_col, alpha)
    whole = F.floor(F.col("rate")).cast("long")
    frac = F.col("rate") - F.floor(F.col("rate"))
    n_copies = whole + F.when(sample_unit(id_col) < frac, 1).otherwise(0)
    # sequence(0, -1) DESCENDS in Spark — guard the zero-copy case
    epochs = F.when(
        n_copies > 0, F.sequence(F.lit(0).cast("long"), n_copies - 1)
    ).otherwise(F.expr("CAST(array() AS array<bigint>)"))
    return (
        df.join(F.broadcast(rates), domain_col)
        .select("*", F.explode(epochs).alias("epoch"))
        .drop("n_d")
    )


def mix_epochs_audit(
    df: DataFrame,
    domain_col: str = "source",
    id_col: str = "doc_id",
    alpha: float = 0.5,
) -> DataFrame:
    """Per-domain audit of the upsampling mixture: (domain, n_in, n_out,
    max_epoch, rate) where n_out counts emitted rows INCLUDING repeats."""
    m = domain_mix_epochs(df, domain_col, id_col, alpha)
    out = m.groupBy(domain_col).agg(
        F.count("*").cast("bigint").alias("n_out"),
        F.max("epoch").cast("bigint").alias("max_epoch"),
    )
    # recompute the (tiny) rate table so empty domains still carry a rate
    rates = domain_rates(df, domain_col, alpha).select(
        domain_col, F.col("n_d").cast("bigint").alias("n_in"), "rate")
    return rates.join(out, domain_col, "left").select(
        domain_col, "n_in",
        F.coalesce(F.col("n_out"), F.lit(0)).cast("bigint").alias("n_out"),
        F.coalesce(F.col("max_epoch"), F.lit(-1)).cast("bigint").alias("max_epoch"),
        "rate",
    )
