"""Deterministic synthetic geotagged web-page corpus (FIXTURES.md §1).

Schema matches the graft input_hint exactly:
    (url:string, warc_ts:timestamp, html:binary, text:string, lang:string)

Generated fully distributed via ``spark.range`` + Column arithmetic — no
driver-side loops, no Python UDFs, no RNG (closed-form modular arithmetic on
the row id), so any scale is reproducible and the same rows appear at every
parallelism level.

Coordinate law (documented so the DuckDB oracle can reproduce it):
    u1 = (i * 2654435761) % 1000003 / 1000003.0
    u2 = (i * 2246822519) % 1000033 / 1000033.0
    hot  iff i % 10 < 3         (30% rows in 3 urban hot cells -> skew tests)
    hot center c = i % 3 of [(17.11,48.15),(21.26,48.72),(18.74,49.21)]
        lon = c.lon + (u1 - 0.5) * 0.05 ;  lat = c.lat + (u2 - 0.5) * 0.05
    else lon = 16.8 + u1 * 5.8  ;  lat = 47.7 + u2 * 1.9   (Slovakia bbox)
    geotag present iff i % 5 != 4 (80%) -> text embeds "geo:%.6f,%.6f"
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

CORPUS_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)

HOT_CENTERS = [(17.11, 48.15), (21.26, 48.72), (18.74, 49.21)]
BBOX = (16.8, 47.7, 22.6, 49.6)  # lon_min, lat_min, lon_max, lat_max
LANGS = ["en", "de", "sk", "cs"]


def geotagged_corpus(spark: SparkSession, n_rows: int) -> DataFrame:
    df = spark.range(0, n_rows, numPartitions=spark.sparkContext.defaultParallelism)
    i = F.col("id")
    u1 = (i * F.lit(2654435761)) % 1000003 / F.lit(1000003.0)
    u2 = (i * F.lit(2246822519)) % 1000033 / F.lit(1000033.0)
    hot = (i % 10) < 3
    hc = (i % 3).cast("int")
    hot_lon = (
        F.element_at(F.array(*[F.lit(c[0]) for c in HOT_CENTERS]), hc + 1) + (u1 - 0.5) * 0.05
    )
    hot_lat = (
        F.element_at(F.array(*[F.lit(c[1]) for c in HOT_CENTERS]), hc + 1) + (u2 - 0.5) * 0.05
    )
    lon = F.when(hot, hot_lon).otherwise(F.lit(BBOX[0]) + u1 * (BBOX[2] - BBOX[0]))
    lat = F.when(hot, hot_lat).otherwise(F.lit(BBOX[1]) + u2 * (BBOX[3] - BBOX[1]))
    has_geo = (i % 5) != 4
    lang = F.element_at(F.array(*[F.lit(lg) for lg in LANGS]), (i % 4).cast("int") + 1)
    # id-derived pseudo-words make shingle sets doc-specific (realistic
    # diversity for dedup/LSH benchmarks; a shared template would make
    # every doc a near-duplicate of every other)
    # distinct modulus per slot: two docs share ALL slots only when
    # i == i' mod lcm(moduli) (~1e48) — never; single-word overlaps remain
    vocab = F.concat_ws(
        " ",
        *[
            F.format_string("w%d", (i * F.lit(p)) % m)
            for p, m in [
                (7919, 9973), (104729, 9967), (1299709, 9949), (15485863, 9941),
                (32452843, 9931), (49979687, 9929), (67867967, 9923),
                (86028121, 9907), (104395301, 9901), (122949823, 9887),
                (141650939, 9883), (160481183, 9871),
            ]
        ],
    )
    body = F.format_string("p%d geo:%.6f,%.6f", i, lat, lon)
    text = F.concat(
        F.when(has_geo, body).otherwise(F.format_string("p%d nogeo", i)),
        F.lit(" "),
        vocab,
    )
    return df.select(
        F.format_string("https://example.org/%s/%08d", lang, i).alias("url"),
        (F.lit("2025-01-01 00:00:00").cast("timestamp") + F.make_interval(secs=i)).alias(
            "warc_ts"
        ),
        F.concat(F.lit("<html><body>"), text, F.lit("</body></html>")).cast("binary").alias(
            "html"
        ),
        text.alias("text"),
        lang.alias("lang"),
    )
