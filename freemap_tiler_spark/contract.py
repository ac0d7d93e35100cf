"""Driver-contract queries: each engine operator exposed as a named query
over the driver's parquet tables, with a DuckDB oracle-SQL twin.

Every pair (queries()[k], oracle_sql()[k]) computes the SAME result two
ways: the Spark side through the engine's operators, the SQL side through
independent ANSI SQL — the correctness gate of SURVEY.md §5.4.

Cross-engine determinism rules used throughout:
- hashes: md5 (bit-identical in Spark/DuckDB) + int64 modular arithmetic;
- money sums: CAST(ROUND(x*100) AS BIGINT) before SUM (order-independent);
- coordinates: integer microdegrees from closed-form modular arithmetic on
  doc_id, divided by 1e6 (one exact-deterministic IEEE op per value);
- ranks: explicit deterministic tie-breaks on unique ids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from freemap_tiler_spark.functions import cells, mercator
from freemap_tiler_spark.functions import text as T
from freemap_tiler_spark.operators import dedup, knn, pip_join, pyramid, similarity
from freemap_tiler_spark.sources.tables import load_table

MAXZ = 14

# ---------------------------------------------------------------------------
# shared derived-geopoint law (closed form over doc_id; microdegrees)
# ---------------------------------------------------------------------------

LON_SQL = "(16800000 + (doc_id * 2654435761) % 5800000) / 1000000.0"
LAT_SQL = "(47700000 + (doc_id * 2246822519) % 1900000) / 1000000.0"


def _docs_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    lon = (F.lit(16800000) + (F.col("doc_id") * F.lit(2654435761)) % 5800000) / 1000000.0
    lat = (F.lit(47700000) + (F.col("doc_id") * F.lit(2246822519)) % 1900000) / 1000000.0
    return d.select("doc_id", lon.alias("lon"), lat.alias("lat"))


def _tile_sql(z: int = MAXZ) -> tuple[str, str]:
    tx = mercator.TILE_X_SQL.format(lon=LON_SQL, z=z)
    ty = mercator.TILE_Y_SQL.format(lat=LAT_SQL, z=z)
    return tx, ty


def _morton_sql(xv: str, yv: str) -> str:
    """DuckDB expression bit-interleaving two 29-bit vars (names, not
    expressions — keep them short: the spread doubles the string 5x)."""
    masks = [
        (16, 281470681808895),
        (8, 71777214294589695),
        (4, 1085102592571150095),
        (2, 3689348814741910323),
        (1, 6148914691236517205),
    ]

    def spread(v: str) -> str:
        e = f"(({v}) & 4294967295)"
        for s, b in masks:
            e = f"((({e}) | (({e}) << {s})) & {b})"
        return e

    return f"({spread(xv)} | ({spread(yv)} << 1))"


# ---------------------------------------------------------------------------
# 1-6: relational operator shapes (SURVEY.md §2.3, §2.4, §2.6, §2.7)
# ---------------------------------------------------------------------------

def q_limits_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 limits fold shape: groupBy + min/max/sum/count over lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias("sum_price_cents"),
            F.min("l_orderkey").alias("min_ok"),
            F.max("l_orderkey").alias("max_ok"),
            F.count("*").alias("cnt"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_LIMITS_FOLD = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
       MIN(l_orderkey) AS min_ok, MAX(l_orderkey) AS max_ok,
       COUNT(*) AS cnt
FROM lineitem GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_resume_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/S5 resume probe shape: left anti-join (pending \\ done)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_anti")
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey")
    )


SQL_RESUME_ANTI_JOIN = """
SELECT o_orderkey, o_orderstatus FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
ORDER BY o_orderkey
"""


def q_semi_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join + broadcast dim join: customers-with-orders per nation."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("active_customers"))
        .orderBy("n_name")
    )


SQL_SEMI_JOIN_AGG = """
SELECT n_name, COUNT(*) AS active_customers
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY n_name ORDER BY n_name
"""


def q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O/J-KNN window shape: top-3 events per user by value."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), "event_id")
    return (
        e.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("user_id", "event_id", F.round("value", 2).alias("value"), "rank")
        .orderBy("user_id", "rank")
    )


def q_window_topk_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 compound: the top-k window ∪ an AS-OF JOIN (the time-series
    operator Spark's built-ins lack — kdb `aj` / DuckDB ASOF JOIN),
    implemented as the scalable union-and-running-window pattern
    (operators/asof.py).  Left = every 3rd event; right = events ≡1
    (mod 3), deduped to one row per (user, ts); each left row reports
    the matched right event and the time gap.  Column names sort the
    leg tag before the float gap, so the driver's compare never
    tie-breaks on a float."""
    from freemap_tiler_spark.operators.asof import asof_join

    topk = q_window_topk(spark, sf_dir).select(
        F.lit("topk").alias("src"),
        F.col("user_id").cast("bigint").alias("k1"),
        F.col("event_id").cast("bigint").alias("k2"),
        F.col("rank").cast("bigint").alias("v1"),
        F.col("value").alias("vq"),
    )
    e = load_table(spark, sf_dir, "events")
    left = e.where(F.col("event_id") % 3 == 0).select("user_id", "event_id", "ts")
    wdd = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    right = (
        e.where(F.col("event_id") % 3 == 1)
        .withColumn("_n", F.row_number().over(wdd))
        .where(F.col("_n") == 1)
        .select("user_id", "event_id", "ts")
    )
    j = asof_join(left, right, "user_id", "ts", ["event_id"])
    asof = j.select(
        F.lit("asof").alias("src"),
        F.col("user_id").cast("bigint").alias("k1"),
        F.col("event_id").cast("bigint").alias("k2"),
        F.coalesce(F.col("r_event_id"), F.lit(-1)).cast("bigint").alias("v1"),
        # gap in seconds from INTEGER microsecond subtraction (one exact
        # int op + one division — bit-identical to the DuckDB twin's
        # epoch_us form; subtracting two ~1.7e9 s doubles instead would
        # carry ~1e-7 of representation noise past the 1e-9 tolerance)
        F.coalesce(
            (F.unix_micros(F.col("ts").cast("timestamp"))
             - F.unix_micros(F.col("r_ts").cast("timestamp")))
            / F.lit(1_000_000.0),
            F.lit(-1.0),
        ).alias("vq"),
    )
    # range-join leg (the brief's other custom-join class): 24 overlapping
    # value intervals [3i, 3i+5) — the bucketed equi-join counts events
    # per interval; the DuckDB twin uses the raw inequality join
    from freemap_tiler_spark.operators.range_join import range_join

    iv = spark.range(24).select(
        F.col("id").alias("interval_id"),
        (F.col("id") * 3.0).alias("lo"),
        (F.col("id") * 3.0 + 5.0).alias("hi"),
    )
    rj = (
        range_join(e.select("event_id", "value"), iv, "value", "lo", "hi",
                   bucket_width=4.0)
        .groupBy("interval_id", "lo")
        .agg(F.count("*").alias("n"))
    )
    rng = iv.join(rj, ["interval_id", "lo"], "left").select(
        F.lit("range").alias("src"),
        F.col("interval_id").cast("bigint").alias("k1"),
        F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("k2"),
        F.lit(0).cast("bigint").alias("v1"),
        F.col("lo").alias("vq"),
    )
    return (topk.unionByName(asof).unionByName(rng)
            .orderBy("src", "k1", "k2"))


SQL_WINDOW_TOPK_ASOF = """
SELECT * FROM (
  SELECT 'topk' AS src, CAST(user_id AS BIGINT) AS k1,
         CAST(event_id AS BIGINT) AS k2, CAST(rank AS BIGINT) AS v1,
         ROUND(value, 2) AS vq
  FROM (
    SELECT user_id, event_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY value DESC, event_id) AS rank
    FROM events) WHERE rank <= 3
  UNION ALL
  SELECT 'asof' AS src, CAST(l.user_id AS BIGINT) AS k1,
         CAST(l.event_id AS BIGINT) AS k2,
         CAST(COALESCE(r.event_id, -1) AS BIGINT) AS v1,
         COALESCE((epoch_us(l.ts) - epoch_us(r.ts)) / 1000000.0, -1.0) AS vq
  FROM (SELECT user_id, event_id, ts FROM events WHERE event_id % 3 = 0) l
  ASOF LEFT JOIN (
    SELECT user_id, event_id, ts FROM (
      SELECT user_id, event_id, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id, ts
                                ORDER BY event_id DESC) AS _n
      FROM events WHERE event_id % 3 = 1) WHERE _n = 1) r
  ON l.user_id = r.user_id AND l.ts >= r.ts
  UNION ALL
  SELECT 'range' AS src, CAST(iv.interval_id AS BIGINT) AS k1,
         CAST(COALESCE(cnt.n, 0) AS BIGINT) AS k2,
         CAST(0 AS BIGINT) AS v1, iv.lo AS vq
  FROM (SELECT i AS interval_id, i * 3.0 AS lo, i * 3.0 + 5.0 AS hi
        FROM UNNEST(range(0, 24)) AS t(i)) iv
  LEFT JOIN (
    SELECT i.interval_id, COUNT(*) AS n
    FROM (SELECT i AS interval_id, i * 3.0 AS lo, i * 3.0 + 5.0 AS hi
          FROM UNNEST(range(0, 24)) AS t(i)) i
    JOIN events e ON e.value >= i.lo AND e.value < i.hi
    GROUP BY i.interval_id) cnt
  ON iv.interval_id = cnt.interval_id
) ORDER BY src, k1, k2
"""


def q_broadcast_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-reorder/broadcast shape: order revenue (cents) per nation."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("revenue_cents"))
        .orderBy("n_name")
    )


SQL_BROADCAST_JOIN_AGG = """
SELECT n_name, CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n_name ORDER BY n_name
"""


def q_distinct_union_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 ancestor closure: distinct tile count per zoom from leaf keys
    derived off lineitem (closed-form integer coords)."""
    li = load_table(spark, sf_dir, "lineitem")
    x = (F.col("l_orderkey") * F.lit(2654435761)) % 16384
    y = (F.col("l_partkey") * F.lit(2246822519)) % 16384
    leaf = li.select(x.alias("x"), y.alias("y"))
    zdf = spark.range(0, MAXZ + 1).select(F.col("id").cast("int").alias("zoom"))
    joined = leaf.crossJoin(zdf)
    key = (
        F.floor(F.col("x") / F.pow(F.lit(2.0), (MAXZ - F.col("zoom")).cast("double"))).cast("long")
        * 16384
        + F.floor(F.col("y") / F.pow(F.lit(2.0), (MAXZ - F.col("zoom")).cast("double"))).cast("long")
    )
    return (
        joined.select("zoom", key.alias("k"))
        .groupBy("zoom")
        .agg(F.countDistinct("k").alias("tile_count"))
        .orderBy("zoom")
    )


SQL_DISTINCT_UNION_CLOSURE = """
SELECT z.zoom, COUNT(DISTINCT ((x >> (14 - z.zoom)) * 16384 + (y >> (14 - z.zoom)))) AS tile_count
FROM (SELECT (l_orderkey * 2654435761) % 16384 AS x,
             (l_partkey * 2246822519) % 16384 AS y FROM lineitem) leaf
CROSS JOIN (SELECT UNNEST(RANGE(0, 15)) AS zoom) z
GROUP BY z.zoom ORDER BY z.zoom
"""


def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets shape: ROLLUP over (returnflag, linestatus)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("cnt"), F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "cnt", "sum_qty",
        )
        .orderBy("rf", "ls")
    )


SQL_ROLLUP_AGG = """
SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
       COUNT(*) AS cnt, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY rf, ls
"""


def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (orderstatus, orderpriority)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("cnt"),
             F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("rev_cents"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("st"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("pri"),
            "cnt", "rev_cents",
        )
        .orderBy("st", "pri")
    )


SQL_CUBE_AGG = """
SELECT COALESCE(o_orderstatus, 'ALL') AS st, COALESCE(o_orderpriority, 'ALL') AS pri,
       COUNT(*) AS cnt, CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority) ORDER BY st, pri
"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT shapes (§2.7): customers with both an order above
    and below the median price band, minus high-balance ones."""
    o = load_table(spark, sf_dir, "orders")
    hi = o.where(F.col("o_totalprice") > 200000).select("o_custkey").distinct()
    lo = o.where(F.col("o_totalprice") < 50000).select("o_custkey").distinct()
    c = load_table(spark, sf_dir, "customer")
    rich = c.where(F.col("c_acctbal") > 9000).select(F.col("c_custkey").alias("o_custkey"))
    return (
        hi.intersect(lo).exceptAll(rich).select(F.col("o_custkey").alias("custkey"))
        .orderBy("custkey")
    )


SQL_SET_OPS = """
SELECT o_custkey AS custkey FROM (
  SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 200000
  INTERSECT
  SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice < 50000
)
EXCEPT ALL
SELECT c_custkey FROM customer WHERE c_acctbal > 9000
ORDER BY custkey
"""


def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String expression shapes: substring/upper/concat/length/trim."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper(F.substring("p_name", 1, 4)).alias("prefix"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("-", "p_brand", F.trim(F.lower("p_type"))).alias("brand_type"),
    ).orderBy("p_partkey")


SQL_STRING_FUNCS = """
SELECT p_partkey, UPPER(SUBSTRING(p_name, 1, 4)) AS prefix,
       LENGTH(p_name) AS name_len,
       p_brand || '-' || TRIM(LOWER(p_type)) AS brand_type
FROM part ORDER BY p_partkey
"""


def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date expression shapes: year/month/dayofweek buckets + agg."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mo")
        )
        .agg(F.count("*").alias("cnt"),
             F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("rev_cents"))
        .orderBy("yr", "mo")
    )


SQL_DATE_FUNCS = """
SELECT EXTRACT(year FROM o_orderdate) AS yr, EXTRACT(month FROM o_orderdate) AS mo,
       COUNT(*) AS cnt, CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
FROM orders GROUP BY 1, 2 ORDER BY yr, mo
"""


def q_salted_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-SKEW: the two-phase salted aggregation must equal a plain count."""
    from freemap_tiler_spark.operators.skew import salted_count

    e = load_table(spark, sf_dir, "events")
    return salted_count(e.withColumnRenamed("event_type", "cell"), key="cell").orderBy(
        "cell"
    )


SQL_SALTED_COUNT = """
SELECT event_type AS cell, COUNT(*) AS count FROM events GROUP BY 1 ORDER BY cell
"""


# ---------------------------------------------------------------------------
# 7-11: geo pipeline (extraction, tile assignment, pyramid keys, limits)
# ---------------------------------------------------------------------------

def q_geo_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geotag extraction (F-text): build geo text from integer microdegrees
    (no float printf — cross-engine exact), extract with the engine regexp."""
    d = load_table(spark, sf_dir, "documents")
    lat_u = (F.lit(47700000) + (F.col("doc_id") * F.lit(2246822519)) % 1900000).cast("long")
    lon_u = (F.lit(16800000) + (F.col("doc_id") * F.lit(2654435761)) % 5800000).cast("long")

    def fmt(u):
        return F.concat(
            F.floor(u / 1000000).cast("long").cast("string"),
            F.lit("."),
            F.lpad((u % 1000000).cast("string"), 6, "0"),
        )

    body = F.concat(
        F.lit("doc "), F.col("doc_id").cast("string"),
        F.lit(" geo:"), fmt(lat_u), F.lit(","), fmt(lon_u), F.lit(" end"),
    )
    withtext = d.select("doc_id", body.alias("gtext"))
    return withtext.select(
        "doc_id",
        F.regexp_extract("gtext", T.GEO_PATTERN, 1).alias("lat_s"),
        F.regexp_extract("gtext", T.GEO_PATTERN, 2).alias("lon_s"),
    ).orderBy("doc_id")


SQL_GEO_EXTRACT = r"""
WITH g AS (
  SELECT doc_id,
         'doc ' || doc_id || ' geo:' ||
         CAST((47700000 + (doc_id * 2246822519) % 1900000) // 1000000 AS VARCHAR) || '.' ||
         LPAD(CAST((47700000 + (doc_id * 2246822519) % 1900000) % 1000000 AS VARCHAR), 6, '0') ||
         ',' ||
         CAST((16800000 + (doc_id * 2654435761) % 5800000) // 1000000 AS VARCHAR) || '.' ||
         LPAD(CAST((16800000 + (doc_id * 2654435761) % 5800000) % 1000000 AS VARCHAR), 6, '0') ||
         ' end' AS gtext
  FROM documents)
SELECT doc_id,
       regexp_extract(gtext, 'geo:(-?\d+\.\d+),(-?\d+\.\d+)', 1) AS lat_s,
       regexp_extract(gtext, 'geo:(-?\d+\.\d+),(-?\d+\.\d+)', 2) AS lon_s
FROM g ORDER BY doc_id
"""


def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7/F1-F6: z14 tile assignment + TMS flip + morton cell id."""
    g = _docs_geo(spark, sf_dir)
    tx = mercator.tile_x(F.col("lon"), F.lit(MAXZ))
    ty = mercator.tile_y(F.col("lat"), F.lit(MAXZ))
    out = g.select(
        "doc_id", tx.alias("tx"), ty.alias("ty"),
        cells.reversed_y(F.lit(MAXZ), ty).alias("tms_y"),
        cells.cell(F.lit(MAXZ), tx, ty).alias("cell"),
    )
    return out.orderBy("doc_id")


def _sql_tile_assign() -> str:
    tx, ty = _tile_sql()
    morton = _morton_sql("tx", "ty")
    return f"""
WITH t AS (SELECT doc_id, {tx} AS tx, {ty} AS ty FROM documents)
SELECT doc_id, tx, ty, (1::BIGINT << {MAXZ}) - 1 - ty AS tms_y,
       (({MAXZ}::BIGINT << 58) | {morton}) AS cell
FROM t ORDER BY doc_id
"""


def q_pyramid_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ancestor closure on REAL tile keys: distinct tiles per zoom 0..14,
    computed through the engine's cell algebra (ancestor by bit-shift)."""
    g = _docs_geo(spark, sf_dir)
    leaf = g.select(
        cells.cell(
            F.lit(MAXZ),
            mercator.tile_x(F.col("lon"), F.lit(MAXZ)),
            mercator.tile_y(F.col("lat"), F.lit(MAXZ)),
        ).alias("cell")
    ).distinct()
    per_zoom = None
    cur = leaf
    for z in range(MAXZ, -1, -1):
        cnt = cur.select(F.lit(z).alias("zoom"), F.col("cell"))
        per_zoom = cnt if per_zoom is None else per_zoom.unionByName(cnt)
        if z > 0:
            cur = cur.select(cells.parent("cell").alias("cell")).distinct()
    return per_zoom.groupBy("zoom").agg(F.countDistinct("cell").alias("tile_count")).orderBy("zoom")


def _sql_pyramid_keys() -> str:
    tx, ty = _tile_sql()
    return f"""
WITH t AS (SELECT DISTINCT {tx} AS tx, {ty} AS ty FROM documents)
SELECT z.zoom, COUNT(DISTINCT ((tx >> (14 - z.zoom)) * 16384 + (ty >> (14 - z.zoom)))) AS tile_count
FROM t CROSS JOIN (SELECT UNNEST(RANGE(0, 15)) AS zoom) z
GROUP BY z.zoom ORDER BY z.zoom
"""


def q_limits_per_zoom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 limits on real pyramid keys: per-zoom min/max x and TMS y."""
    g = _docs_geo(spark, sf_dir)
    leaf = g.select(
        cells.cell(
            F.lit(MAXZ),
            mercator.tile_x(F.col("lon"), F.lit(MAXZ)),
            mercator.tile_y(F.col("lat"), F.lit(MAXZ)),
        ).alias("cell")
    ).distinct()
    acc = None
    cur = leaf
    for z in range(MAXZ, -1, -1):
        lv = cur.select(F.lit(z).alias("zoom"), cells.cell_x("cell").alias("x"),
                        cells.reversed_y(F.lit(z), cells.cell_y("cell")).alias("tms_y"))
        acc = lv if acc is None else acc.unionByName(lv)
        if z > 0:
            cur = cur.select(cells.parent("cell").alias("cell")).distinct()
    return (
        acc.groupBy("zoom")
        .agg(F.min("x").alias("min_x"), F.max("x").alias("max_x"),
             F.min("tms_y").alias("min_y"), F.max("tms_y").alias("max_y"))
        .orderBy("zoom")
    )


def _sql_limits_per_zoom() -> str:
    tx, ty = _tile_sql()
    return f"""
WITH t AS (SELECT DISTINCT {tx} AS tx, {ty} AS ty FROM documents)
SELECT z.zoom,
       MIN(tx >> (14 - z.zoom)) AS min_x, MAX(tx >> (14 - z.zoom)) AS max_x,
       MIN((1::BIGINT << z.zoom) - 1 - (ty >> (14 - z.zoom))) AS min_y,
       MAX((1::BIGINT << z.zoom) - 1 - (ty >> (14 - z.zoom))) AS max_y
FROM t CROSS JOIN (SELECT UNNEST(RANGE(0, 15)) AS zoom) z
GROUP BY z.zoom ORDER BY z.zoom
"""


# convex quad for the PIP oracle (CCW order; half-plane test is exact SQL)
QUAD_X = [18.0, 21.0, 20.5, 17.5]
QUAD_Y = [47.9, 48.4, 49.5, 49.0]


def q_pip_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-PIP broadcast join: derived points vs a convex quad polygon.
    Spark side = the generic even-odd broadcast ray-cast operator; oracle =
    four half-plane sign tests (valid because the quad is convex)."""
    g = _docs_geo(spark, sf_dir)
    polys = [
        {
            "poly_id": 1,
            "tag": "quad",
            "rings": [
                (__import__("numpy").asarray(QUAD_X, float),
                 __import__("numpy").asarray(QUAD_Y, float))
            ],
            "bbox": (min(QUAD_X), min(QUAD_Y), max(QUAD_X), max(QUAD_Y)),
        }
    ]
    return (
        pip_join.pip_join_broadcast(g, polys, "lon", "lat")
        .select("doc_id", "poly_id")
        .orderBy("doc_id")
    )


def _sql_pip_join() -> str:
    conds = []
    n = len(QUAD_X)
    for i in range(n):
        x1, y1 = QUAD_X[i], QUAD_Y[i]
        x2, y2 = QUAD_X[(i + 1) % n], QUAD_Y[(i + 1) % n]
        conds.append(
            f"(({x2} - {x1}) * (lat - {y1}) - ({y2} - {y1}) * (lon - {x1})) > 0"
        )
    return f"""
WITH p AS (SELECT doc_id, {LON_SQL} AS lon, {LAT_SQL} AS lat FROM documents)
SELECT doc_id, 1::BIGINT AS poly_id FROM p
WHERE {' AND '.join(conds)} ORDER BY doc_id
"""


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-KNN: 5 nearest derived points per probe (brute operator; window
    top-k).  Output rank only (floats excluded from the hash)."""
    g = _docs_geo(spark, sf_dir)
    probes = g.where(F.col("doc_id") % 500 == 0).select(
        F.col("doc_id").alias("probe_id"), "lon", "lat"
    )
    points = g.select(F.col("doc_id").alias("point_id"), "lon", "lat")
    return (
        knn.knn_join_brute(probes, points, k=5)
        .select("probe_id", "point_id", "rank")
        .orderBy("probe_id", "rank")
    )


SQL_KNN = f"""
WITH p AS (SELECT doc_id, {LON_SQL} AS lon, {LAT_SQL} AS lat FROM documents),
probes AS (SELECT doc_id AS probe_id, lon AS plon, lat AS plat FROM p WHERE doc_id % 500 = 0),
cand AS (
  SELECT probe_id, doc_id AS point_id,
         SQRT(POW((plon - lon) * COS(RADIANS((plat + lat) / 2.0)), 2) + POW(plat - lat, 2)) AS dist
  FROM probes CROSS JOIN p),
ranked AS (
  SELECT probe_id, point_id,
         ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY dist, point_id) AS rank
  FROM cand)
SELECT probe_id, point_id, rank FROM ranked WHERE rank <= 5 ORDER BY probe_id, rank
"""

# knn_grid oracle: exact kNN RESTRICTED to the operator's final search
# window — Chebyshev distance <= 4 cells at zoom 9 (ring doubling 1->2->4
# over expand_rounds=2).  For corpus probes whose global top-5 sit inside
# the 3x3 ring (the fixture property) the cap changes nothing; for the
# planted isolated probe it grades the PARTIAL-result contract exactly.
_KG_TXP = mercator.TILE_X_SQL.format(lon="plon", z=9)
_KG_TYP = mercator.TILE_Y_SQL.format(lat="plat", z=9)
_KG_TXQ = mercator.TILE_X_SQL.format(lon="lon", z=9)
_KG_TYQ = mercator.TILE_Y_SQL.format(lat="lat", z=9)
SQL_KNN_GRID = f"""
WITH base AS (SELECT doc_id, {LON_SQL} AS lon, {LAT_SQL} AS lat FROM documents),
pts AS (SELECT * FROM base
        UNION ALL SELECT CAST(9000001 AS BIGINT), 150.3, -40.1
        UNION ALL SELECT CAST(9000002 AS BIGINT), 149.8, -39.7),
probes AS (SELECT doc_id AS probe_id, lon AS plon, lat AS plat FROM base WHERE doc_id % 500 = 0
           UNION ALL SELECT CAST(9000500 AS BIGINT), 150.0, -40.0),
cand AS (
  SELECT probe_id, doc_id AS point_id,
         SQRT(POW((plon - lon) * COS(RADIANS((plat + lat) / 2.0)), 2) + POW(plat - lat, 2)) AS dist
  FROM probes CROSS JOIN pts
  WHERE ABS({_KG_TXP} - {_KG_TXQ}) <= 4 AND ABS({_KG_TYP} - {_KG_TYQ}) <= 4),
ranked AS (
  SELECT probe_id, point_id,
         ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY dist, point_id) AS rank
  FROM cand)
SELECT probe_id, point_id, rank FROM ranked WHERE rank <= 5 ORDER BY probe_id, rank
"""


# ---------------------------------------------------------------------------
# 13-19: text analysis + dedup
# ---------------------------------------------------------------------------

def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("lang", T.ws_token_count(F.col("text")).alias("ws"),
                 T.bpe_token_estimate(F.col("text")).alias("bpe"))
        .groupBy("lang")
        .agg(F.sum("ws").alias("ws_tokens"), F.sum("bpe").alias("bpe_tokens"),
             F.count("*").alias("docs"))
        .orderBy("lang")
    )


SQL_TOKEN_COUNT = r"""
SELECT lang,
       CAST(SUM(CASE WHEN TRIM(text) = '' THEN 0
                ELSE LEN(regexp_split_to_array(TRIM(text), '\s+')) END) AS BIGINT) AS ws_tokens,
       CAST(SUM(LEN(regexp_extract_all(text, '\w{1,4}|[^\w\s]'))) AS BIGINT) AS bpe_tokens,
       COUNT(*) AS docs
FROM documents GROUP BY lang ORDER BY lang
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    feats = T.quality_features(F.col("text"))
    return d.select(
        "doc_id",
        feats["n_words"].alias("n_words"),
        F.round(feats["punct_ratio"], 6).alias("punct_ratio"),
        F.round(feats["stopword_ratio"], 6).alias("stopword_ratio"),
        F.round(T.quality_score(F.col("text")), 6).alias("quality"),
    ).orderBy("doc_id")


SQL_QUALITY_SCORE = r"""
WITH f AS (
  SELECT doc_id,
         CAST(LENGTH(text) AS DOUBLE) AS n_chars,
         GREATEST(CAST(LENGTH(text) AS DOUBLE), 1.0) AS safe,
         CAST(LEN(regexp_extract_all(text, '[^\w\s]')) AS DOUBLE) AS n_punct,
         CAST(LEN(regexp_extract_all(text, '[0-9]')) AS DOUBLE) AS n_digit,
         CASE WHEN TRIM(text) = '' THEN 0.0
              ELSE CAST(LEN(regexp_split_to_array(TRIM(text), '\s+')) AS DOUBLE) END AS n_words,
         CAST(LEN(regexp_extract_all(LOWER(text),
              '\b(the|a|an|and|or|of|to|in|is|it|that|for|on|with|as)\b')) AS DOUBLE) AS n_stop
  FROM documents),
r AS (
  SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         n_punct / safe AS punct_ratio,
         n_stop / GREATEST(n_words, 1.0) AS stopword_ratio,
         1.0 - LEAST(n_punct / safe * 2.0, 0.5) - LEAST(n_digit / safe * 2.0, 0.3)
             + LEAST(n_stop / GREATEST(n_words, 1.0), 0.4) * 0.5
             - CASE WHEN n_chars / GREATEST(n_words, 1.0) < 2.0
                      OR n_chars / GREATEST(n_words, 1.0) > 12.0 THEN 0.3 ELSE 0.0 END AS score
  FROM f)
SELECT doc_id, n_words, ROUND(punct_ratio, 6) AS punct_ratio,
       ROUND(stopword_ratio, 6) AS stopword_ratio,
       ROUND(GREATEST(0.0, LEAST(score, 1.0)), 6) AS quality
FROM r ORDER BY doc_id
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", T.lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count("*").alias("docs"))
        .orderBy("lang_pred")
    )


def _sql_lang_id() -> str:
    cases = []
    pats = list(T._LANG_STOPWORDS.items())
    counts = ", ".join(
        f"LEN(regexp_extract_all(LOWER(text), '{pat}')) AS c_{lang}" for lang, pat in pats
    )
    best = "GREATEST(" + ", ".join(f"c_{lang}" for lang, _ in pats) + ")"
    expr = "'und'"
    for lang, _ in reversed(pats):
        expr = f"CASE WHEN best > 0 AND c_{lang} = best THEN '{lang}' ELSE {expr} END"
    return f"""
WITH c AS (SELECT doc_id, {counts} FROM documents),
b AS (SELECT *, {best} AS best FROM c)
SELECT {expr} AS lang_pred, COUNT(*) AS docs FROM b GROUP BY 1 ORDER BY 1
"""


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with planted duplicates (doc_id%10==0 re-inserted at
    +10^7) so the operator provably collapses them."""
    d = load_table(spark, sf_dir, "documents")
    planted = d.unionByName(
        d.where(F.col("doc_id") % 10 == 0).withColumn("doc_id", F.col("doc_id") + 10000000)
    )
    return (
        dedup.exact_dedup(planted)
        .select("fingerprint", "keep_id", "dup_count")
        .orderBy("fingerprint")
    )


SQL_EXACT_DEDUP = """
WITH planted AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 10 = 0)
SELECT CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS fingerprint,
       MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
FROM planted GROUP BY 1 ORDER BY fingerprint
"""


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 50 == 0)
    sig = dedup.minhash_signature(F.col("text"), 4)
    return d.select(
        "doc_id",
        *[F.element_at(sig, i + 1).alias(f"h{i}") for i in range(4)],
    ).orderBy("doc_id")


def _sql_minhash_signatures() -> str:
    hs = ", ".join(
        f"LIST_MIN(LIST_TRANSFORM(b, h -> ({dedup.A[i]}::BIGINT * h + {dedup.B[i]}) % {dedup.P})) AS h{i}"
        for i in range(4)
    )
    return rf"""
WITH tok AS (SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\s+') t
             FROM documents WHERE doc_id % 50 = 0),
sh AS (SELECT doc_id, CASE WHEN LEN(t) >= 3
         THEN LIST_TRANSFORM(RANGE(1, LEN(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
         ELSE [ARRAY_TO_STRING(t, ' ')] END s FROM tok),
base AS (SELECT doc_id, LIST_TRANSFORM(s, x ->
         CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % {dedup.P}) b FROM sh)
SELECT doc_id, {hs} FROM base ORDER BY doc_id
"""


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash pigeonhole near-dup pairs (dedup.simhash_near_dups): the
    blocked self-join must find EVERY pair at Hamming <= 3 (pigeonhole
    over 4 blocks of a 16-bit simhash) — oracle = all-pairs bit_count
    (xor) in SQL over the same planted-duplicate corpus, so a missed
    block collision or a broken verify both fail the hash."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    planted = d.select("doc_id", "text").unionByName(
        d.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    return (
        dedup.simhash_near_dups(planted, bits=16, max_hamming=3)
        .orderBy("id_a", "id_b")
    )


def _sql_simhash_pairs() -> str:
    bits = " | ".join(
        f"(CASE WHEN SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) >= 0"
        f" THEN {1 << b}::BIGINT ELSE 0 END)"
        for b in range(16)
    )
    return rf"""
WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
all_docs AS (SELECT doc_id, text FROM base
             UNION ALL SELECT doc_id + 100000, text FROM base WHERE doc_id % 10 = 0),
tok AS (SELECT doc_id, UNNEST(regexp_split_to_array(TRIM(LOWER(text)), '\s+')) w
        FROM all_docs),
h AS (SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) h FROM tok),
sh AS (SELECT doc_id, ({bits}) AS sh FROM h GROUP BY doc_id)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 3
ORDER BY id_a, id_b
"""


def q_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15/P8/P9/F16-F17 codec laws over real rasterized tiles, folded to
    one row: PNG roundtrip is byte-exact, the JPEG path's zstd alpha
    sidecar is exact, JPEG color decode is pixel-close, QDCT decode error
    is bounded by its quantization step.  Oracle = the SQL tile-count of
    the z6 cover + literal TRUE flags (a codec regression flips a flag
    and fails the hash)."""
    g = _docs_geo(spark, sf_dir)
    tiles = pyramid.rasterize_level(pyramid.assign_cells(g, "lon", "lat", 6), 16)

    def _rt(batches):
        import numpy as np
        import pandas as pd

        from freemap_tiler_spark.functions import codecs as C

        for pdf in batches:
            png_ok, alpha_ok, jpeg_ok, qdct_ok = [], [], [], []
            for p in pdf["payload"]:
                img = np.frombuffer(p, np.uint8).reshape(16, 16, 2)
                d, a = C.encode_tile(img, "png")
                png_ok.append(bool((C.decode_tile(d, a, "png") == img).all()))
                dj, aj = C.encode_tile(img, "jpeg", 85)
                dec = C.decode_tile(dj, aj, "jpeg")
                alpha_ok.append(bool((dec[:, :, 1] == img[:, :, 1]).all()))
                err = np.abs(dec[:, :, 0].astype(float) - img[:, :, 0])
                jpeg_ok.append(bool(err.mean() <= 8.0))
                dq, aq = C.encode_tile(img, "qdct", 85)
                decq = C.decode_tile(dq, aq, "qdct")
                eq = np.abs(decq[:, :, 0].astype(float) - img[:, :, 0])
                qdct_ok.append(bool(eq.max() <= 3.0))
            yield pd.DataFrame(
                {"png_exact": png_ok, "alpha_exact": alpha_ok,
                 "jpeg_close": jpeg_ok, "qdct_close": qdct_ok}
            )

    flags = tiles.mapInPandas(
        _rt, "png_exact boolean, alpha_exact boolean,"
             " jpeg_close boolean, qdct_close boolean"
    )
    return flags.agg(
        F.count("*").alias("n_tiles"),
        F.bool_and("png_exact").alias("png_exact"),
        F.bool_and("alpha_exact").alias("alpha_exact"),
        F.bool_and("jpeg_close").alias("jpeg_close"),
        F.bool_and("qdct_close").alias("qdct_close"),
    )


def _sql_codec_roundtrip() -> str:
    tx = mercator.TILE_X_SQL.format(lon="lon", z=6)
    ty = mercator.TILE_Y_SQL.format(lat="lat", z=6)
    return f"""
WITH p AS (SELECT {LON_SQL} AS lon, {LAT_SQL} AS lat FROM documents),
t AS (SELECT DISTINCT {tx} AS tx, {ty} AS ty FROM p)
SELECT COUNT(*)::BIGINT AS n_tiles, TRUE AS png_exact, TRUE AS alpha_exact,
       TRUE AS jpeg_close, TRUE AS qdct_close FROM t
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 25 == 0)
    return d.select("doc_id", dedup.simhash(F.col("text"), 16).alias("simhash")).orderBy(
        "doc_id"
    )


def _sql_simhash() -> str:
    bits = " | ".join(
        f"(CASE WHEN SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) >= 0"
        f" THEN {1 << b}::BIGINT ELSE 0 END)"
        for b in range(16)
    )
    return rf"""
WITH tok AS (SELECT doc_id, UNNEST(regexp_split_to_array(TRIM(LOWER(text)), '\s+')) w
             FROM documents WHERE doc_id % 25 = 0),
h AS (SELECT doc_id, CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) h FROM tok)
SELECT doc_id, ({bits}) AS simhash FROM h GROUP BY doc_id ORDER BY doc_id
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle Jaccard between consecutive doc pairs (id, id+1)."""
    d = load_table(spark, sf_dir, "documents")
    pairs = d.where((F.col("doc_id") % 100 == 0)).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    out = dedup.jaccard_verify(pairs, d, threshold=0.0)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")).orderBy("id_a")


SQL_NGRAM_JACCARD = r"""
WITH tok AS (SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\s+') t FROM documents),
sh AS (SELECT doc_id, LIST_DISTINCT(CASE WHEN LEN(t) >= 3
        THEN LIST_TRANSFORM(RANGE(1, LEN(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        ELSE [ARRAY_TO_STRING(t, ' ')] END) s FROM tok),
pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.s AS sa, b.s AS sb
          FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1 WHERE a.doc_id % 100 = 0)
SELECT id_a, id_b,
       ROUND(CAST(LEN(LIST_INTERSECT(sa, sb)) AS DOUBLE) /
             CAST(LEN(LIST_DISTINCT(LIST_CONCAT(sa, sb))) AS DOUBLE), 6) AS jaccard
FROM pairs ORDER BY id_a
"""


def q_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline on a corpus with planted dups:
    banded candidate join + exact Jaccard verify >= 0.8."""
    d = load_table(spark, sf_dir, "documents")
    planted = d.unionByName(
        d.where(F.col("doc_id") % 10 == 0).withColumn("doc_id", F.col("doc_id") + 10000000)
    )
    pairs = dedup.minhash_lsh_pairs(planted, num_hashes=8, bands=4)
    ver = dedup.jaccard_verify(pairs, planted, threshold=0.8)
    return ver.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")).orderBy(
        "id_a", "id_b"
    )


def _sql_minhash_lsh_dedup() -> str:
    r = 2  # 8 hashes / 4 bands
    mh = ", ".join(
        f"LIST_MIN(LIST_TRANSFORM(b, h -> ({dedup.A[i]}::BIGINT * h + {dedup.B[i]}) % {dedup.P})) AS h{i}"
        for i in range(8)
    )
    bands = ", ".join(
        f"CAST(('0x' || substr(md5(h{b * r} || ',' || h{b * r + 1}), 1, 15)) AS BIGINT) AS b{b}"
        for b in range(4)
    )
    band_pairs = " UNION ".join(
        f"SELECT l.doc_id AS id_a, r.doc_id AS id_b FROM banded l JOIN banded r"
        f" ON l.b{b} = r.b{b} AND l.doc_id < r.doc_id"
        for b in range(4)
    )
    return rf"""
WITH planted AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 10 = 0),
tok AS (SELECT doc_id, regexp_split_to_array(TRIM(LOWER(text)), '\s+') t FROM planted),
sh AS (SELECT doc_id, CASE WHEN LEN(t) >= 3
        THEN LIST_TRANSFORM(RANGE(1, LEN(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        ELSE [ARRAY_TO_STRING(t, ' ')] END s FROM tok),
base AS (SELECT doc_id, s, LIST_TRANSFORM(s, x ->
        CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % {dedup.P}) b FROM sh),
sigs AS (SELECT doc_id, s, {mh} FROM base),
banded AS (SELECT doc_id, s, {bands} FROM sigs),
cand AS ({band_pairs}),
ver AS (SELECT c.id_a, c.id_b,
        CAST(LEN(LIST_INTERSECT(LIST_DISTINCT(a.s), LIST_DISTINCT(b.s))) AS DOUBLE) /
        CAST(LEN(LIST_DISTINCT(LIST_CONCAT(a.s, b.s))) AS DOUBLE) AS jaccard
        FROM cand c JOIN banded a ON a.doc_id = c.id_a JOIN banded b ON b.doc_id = c.id_b)
SELECT id_a, id_b, ROUND(jaccard, 6) AS jaccard FROM ver
WHERE jaccard >= 0.8 ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# 20-21: similarity + event-time window
# ---------------------------------------------------------------------------

def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    pr = e.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    out = similarity.brute_force_topk(pr, e, k=5)
    return out.select("probe_id", "vec_id", "rank").orderBy("probe_id", "rank")


SQL_SIMILARITY_TOPK = """
WITH pr AS (SELECT vec_id AS probe_id, embedding AS pv FROM embeddings WHERE vec_id % 100 = 0),
cand AS (
  SELECT probe_id, vec_id,
         list_dot_product(pv, embedding) /
         (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(embedding, embedding))) AS cos
  FROM pr CROSS JOIN embeddings),
ranked AS (SELECT probe_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rank
           FROM cand)
SELECT probe_id, vec_id, rank FROM ranked WHERE rank <= 5 ORDER BY probe_id, rank
"""


def q_event_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling window (streaming shape run as batch)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("value_cents"),
        )
        .orderBy("hour", "event_type")
    )


SQL_EVENT_WINDOW = """
SELECT date_trunc('hour', ts) AS hour, event_type,
       COUNT(*) AS events, CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
FROM events GROUP BY 1, 2 ORDER BY hour, event_type
"""


# ---------------------------------------------------------------------------
# production-path twins: the scale operators (grid kNN, cell-prefix PIP)
# graded against the SAME oracles as their brute/broadcast baselines
# ---------------------------------------------------------------------------

def q_knn_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-KNN production path: cell-neighborhood candidate join + ring
    expansion (knn.knn_join), graded against the ring-capped exact-kNN SQL
    oracle.  zoom=9 chosen so the 3x3 cell neighborhood provably contains
    the true top-5 for this corpus density (verified vs brute at
    sf0.001/0.01; for such probes the ring-4 cap changes nothing).  An
    ISOLATED probe (mid-Pacific, 2 planted neighbors, nothing else within
    the final ring) pins the partial-result contract: its rank-1..2 rows
    must be PRESENT, not silently dropped (VERDICT r2 #4)."""
    g = _docs_geo(spark, sf_dir)
    probes = g.where(F.col("doc_id") % 500 == 0).select(
        F.col("doc_id").alias("probe_id"), "lon", "lat"
    ).unionByName(spark.createDataFrame(
        [(9000500, 150.0, -40.0)], "probe_id long, lon double, lat double"
    ))
    points = g.select(F.col("doc_id").alias("point_id"), "lon", "lat").unionByName(
        spark.createDataFrame(
            [(9000001, 150.3, -40.1), (9000002, 149.8, -39.7)],
            "point_id long, lon double, lat double",
        )
    )
    return (
        knn.knn_join(probes, points, k=5, zoom=9)
        .select("probe_id", "point_id", "rank")
        .orderBy("probe_id", "rank")
    )


def q_pip_join_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-PIP production path: cell-prefix repartition join (covering-cell
    explode + equi-join + exact ray-cast), same half-plane oracle as the
    broadcast twin."""
    polys = spark.createDataFrame(
        [(1, 0, QUAD_X, QUAD_Y, "quad")], pip_join.POLYGON_SCHEMA
    )
    g = _docs_geo(spark, sf_dir)
    return (
        pip_join.pip_join_cells(g, polys, zoom=10)
        .select("doc_id", "poly_id")
        .orderBy("doc_id")
    )


def q_pip_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-SKEW x J-PIP: the cell-prefix join with EXPLICIT hot-cell salting
    (salt=8) — result must be identical to the unsalted paths, so it shares
    the half-plane oracle."""
    polys = spark.createDataFrame(
        [(1, 0, QUAD_X, QUAD_Y, "quad")], pip_join.POLYGON_SCHEMA
    )
    g = _docs_geo(spark, sf_dir)
    return (
        pip_join.pip_join_cells(g, polys, zoom=10, salt=8)
        .select("doc_id", "poly_id")
        .orderBy("doc_id")
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate NN (coarse k-means quantizer + nprobe cells + exact
    re-rank) graded by a per-probe recall floor vs brute force — same
    grading pattern as ann_topk.  Measured recall@5 at nprobe=6/16 cells is
    0.80-0.84 on the (adversarially uniform) random embeddings with
    min-hits 3; the floor is 2 (regression margin)."""
    e = load_table(spark, sf_dir, "embeddings")
    pr = e.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    exact = similarity.brute_force_topk(pr, e, k=5).select("probe_id", "vec_id")

    def floor_rows(approx, tag):
        hits = approx.join(exact, ["probe_id", "vec_id"]).groupBy("probe_id").agg(
            F.count("*").alias("hits")
        )
        return (
            pr.select("probe_id")
            .join(hits, "probe_id", "left")
            .select(F.lit(tag).alias("src"), "probe_id",
                    (F.coalesce("hits", F.lit(0)) >= 2).alias("recall_ok"))
        )

    ivf = similarity.ivf_topk(
        pr, e, dim=64, k=5, n_centroids=16, nprobe=6
    ).select("probe_id", "vec_id")
    # IVFADC (residual PQ + per-(probe,cell) ADC tables + short-list exact
    # re-rank, r5): measured recall@5 is 0.92 at m=8/ks=16/nprobe=8/
    # rerank=96 at this sf (was 0.76-0.84 with whole-vector PQ in r4) —
    # residual coding vs the RAW coarse mean keeps the true neighbors in
    # the ADC shortlist, so recall tracks the IVF cell-coverage ceiling.
    # Same recorded floor (2 of 5) as plain IVF keeps the oracle unchanged.
    pq = similarity.ivfpq_topk(
        pr, e, dim=64, k=5, m=8, ks=16, n_centroids=16, nprobe=8, rerank=96
    ).select("probe_id", "vec_id")
    # OPQ leg (Ge et al. CVPR'13, r5-cont): learned orthonormal rotation
    # of the residuals before the subspace split.  ~Neutral on these
    # isotropic random embeddings (the anisotropic gain — 34% lower
    # quantization MSE — is pinned by its own pytest); same floor.
    opq = similarity.ivfpq_topk(
        pr, e, dim=64, k=5, m=8, ks=16, n_centroids=16, nprobe=8, rerank=96,
        opq=True,
    ).select("probe_id", "vec_id")
    return (
        floor_rows(ivf, "ivf").unionByName(floor_rows(pq, "pq"))
        .unionByName(floor_rows(opq, "opq"))
        .orderBy("src", "probe_id")
    )


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (SRP-bucketed candidates + exact
    verify) vs an exact all-pairs DuckDB oracle.  Params give measured
    candidate completeness at sf<=0.1 (every pair >= threshold found)."""
    e = load_table(spark, sf_dir, "embeddings")
    out = similarity.embedding_near_dups(
        e, dim=64, threshold=0.45, n_planes=6, n_tables=8, multiprobe=2
    )
    return out.select("id_a", "id_b").orderBy("id_a", "id_b")


SQL_EMBEDDING_NEAR_DUPS = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.45
ORDER BY id_a, id_b
"""


# ---------------------------------------------------------------------------
# R-VECT: raster -> vector, oracle-checked through the point->pixel law
# ---------------------------------------------------------------------------

def _leaf_tiles_z8(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = _docs_geo(spark, sf_dir)
    return pyramid.rasterize_level(
        pyramid.assign_cells(g, "lon", "lat", 8), tile_size=64
    )


def q_raster_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-VECT explode: leaf tiles back to per-pixel records; the oracle
    recomputes every lit pixel straight from the point->pixel law."""
    from freemap_tiler_spark.operators import rasterize as R

    return R.raster_to_points(
        _leaf_tiles_z8(spark, sf_dir), tile_size=64, bands=2
    ).orderBy("cell", "py", "px")


def q_raster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-VECT fold: per-tile coverage/sum/max from tile payloads."""
    from freemap_tiler_spark.operators import rasterize as R

    return R.raster_stats(
        _leaf_tiles_z8(spark, sf_dir), tile_size=64, bands=2
    ).orderBy("cell")


def _sql_leaf_pixels_cte() -> str:
    """Shared CTE: every lit (tile, pixel) of the z8/64px leaf level with
    its clipped count — the SQL statement of rasterize_level's law."""
    tx, ty = _tile_sql(8)
    tanl = f"tan(radians({LAT_SQL}))"
    fx = f"floor(({LON_SQL} + 180.0) / 360.0 * 16384.0)"
    fy = (
        f"floor((1.0 - ln({tanl} + sqrt({tanl} * {tanl} + 1.0)) / pi())"
        f" / 2.0 * 16384.0)"
    )
    return f"""
pt AS (SELECT {tx} AS tx, {ty} AS ty,
              CAST({fx} AS BIGINT) AS gx, CAST({fy} AS BIGINT) AS gy
       FROM documents),
pix AS (SELECT tx, ty,
               least(greatest(gx - tx * 64, 0), 63) AS px,
               least(greatest(gy - ty * 64, 0), 63) AS py
        FROM pt),
cnt AS (SELECT tx, ty, px, py, least(COUNT(*), 255) AS value
        FROM pix GROUP BY tx, ty, px, py)
"""


def _sql_raster_points() -> str:
    morton = _morton_sql("tx", "ty")
    return f"""
WITH {_sql_leaf_pixels_cte()}
SELECT ((8::BIGINT << 58) | {morton}) AS cell, px, py, value
FROM cnt ORDER BY cell, py, px
"""


def _sql_raster_stats() -> str:
    morton = _morton_sql("tx", "ty")
    return f"""
WITH {_sql_leaf_pixels_cte()}
SELECT ((8::BIGINT << 58) | {morton}) AS cell,
       COUNT(*) / 4096.0 AS coverage,
       CAST(SUM(value) AS DOUBLE) AS value_sum,
       CAST(MAX(value) AS DOUBLE) AS value_max
FROM cnt GROUP BY tx, ty ORDER BY cell
"""


# ---------------------------------------------------------------------------
# formerly rows-only queries, now oracle-checked
# ---------------------------------------------------------------------------

def q_pyramid_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pyramid (rasterize + compose + encode) over derived points at
    z<=8; payload sizes rows-only (keys are oracle-checked by
    pyramid_keys/limits_per_zoom)."""
    g = _docs_geo(spark, sf_dir)
    levels = pyramid.build_pyramid(g, "lon", "lat", max_zoom=8, min_zoom=0, tile_size=64)
    keyed = pyramid.with_tile_keys(levels)
    return keyed.select(
        "zoom", "x", "y", "tms_y", F.length("payload").alias("payload_bytes")
    ).orderBy("zoom", "x", "y")


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH ANN graded by a per-probe recall floor against the exact
    brute-force operator (both in Spark; the oracle asserts every probe
    clears the floor).  Params give measured recall@5 = 1.0 at sf <= 0.1;
    the floor is hits >= 4 of 5 (0.8/probe) — regression margin while still
    red on any real break (the pre-fix correlated planes scored 2)."""
    e = load_table(spark, sf_dir, "embeddings")
    pr = e.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    ann = similarity.ann_topk(
        pr, e, dim=64, k=5, n_planes=6, n_tables=8, multiprobe=2
    ).select("probe_id", "vec_id")
    exact = similarity.brute_force_topk(pr, e, k=5).select("probe_id", "vec_id")
    hits = ann.join(exact, ["probe_id", "vec_id"]).groupBy("probe_id").agg(
        F.count("*").alias("hits")
    )
    return (
        pr.select("probe_id")
        .join(hits, "probe_id", "left")
        .select(
            "probe_id",
            (F.coalesce("hits", F.lit(0)) >= 4).alias("recall_ok"),
        )
        .orderBy("probe_id")
    )


SQL_ANN_TOPK = """
SELECT vec_id AS probe_id, TRUE AS recall_ok FROM embeddings
WHERE vec_id % 100 = 0 ORDER BY probe_id
"""

SQL_IVF_COMPOUND = """
SELECT src, vec_id AS probe_id, TRUE AS recall_ok
FROM embeddings, (SELECT UNNEST(['ivf', 'opq', 'pq']) AS src)
WHERE vec_id % 100 = 0 ORDER BY src, probe_id
"""


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: fake-decode -> resize -> feature extraction."""
    from freemap_tiler_spark.operators import multimodal as M

    media = M.synthetic_media(spark, 200)
    frames = M.decode_and_resize(media, 64, 64, decode="fake")
    return M.frame_features(frames).select(
        "media_id", F.round(F.element_at("features", 1), 4).alias("mean_r"),
        F.size("features").alias("feat_dim"),
    ).orderBy("media_id")


def q_warp_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 warp + S1 real ingestion, compound: the same z9 leaf-tile cover
    from TWO sources — the synthetic blocks table, and a checked-in
    GeoTIFF fixture (tiled + Deflate + predictor-2; 2x2 grid of 64px
    blocks under the identical pixel law and geo-transform) ingested via
    the binaryFile + numpy splitter (sources/geotiff.py; the reference's
    src/main.rs:80 GDAL-open path).  Both branches must produce the same
    keys and the constant 32px RGBA payload length — the oracle is the
    cover CTE once per src tag.  A third leg (r5-cont) ingests the same
    law pixels through the VRT MOSAIC path (sources/vrt.py: two
    geo-tag-free member tifs placed by DstRect on the VRT grid — the
    reference README's gdalbuildvrt input form)."""
    import os

    from freemap_tiler_spark.operators import raster_ops
    from freemap_tiler_spark.sources.geotiff import geotiff_blocks
    from freemap_tiler_spark.sources.raster_blocks import raster_blocks
    from freemap_tiler_spark.sources.vrt import vrt_blocks

    fixdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tests", "fixtures",
    )
    fixture = os.path.join(fixdir, "geotiff_law_tiled_deflate_p2.tif")
    vrt_fixture = os.path.join(fixdir, "vrt_law", "mosaic.vrt")

    def keys(blocks, src):
        tiles = raster_ops.warp_blocks_to_tiles(blocks, zoom=9, tile_size=32)
        return tiles.select(
            F.lit(src).alias("src"),
            cells.cell_zoom("cell").alias("zoom"),
            cells.cell_x("cell").alias("x"),
            cells.cell_y("cell").alias("y"),
            F.length("payload").alias("payload_bytes"),
        )

    synth = keys(raster_blocks(spark, grid=2, width=64, height=64, bands=4),
                 "synthetic")
    tif = keys(geotiff_blocks(spark, fixture), "geotiff")
    vrt = keys(vrt_blocks(spark, vrt_fixture), "vrt")
    return synth.unionByName(tif).unionByName(vrt).orderBy("src", "x", "y")


def q_tile_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/S7 store: full run_tiler (validate -> mask -> warp -> pyramid ->
    encode -> store) over synthetic blocks; the MBTiles-shape table read
    back from parquet.  Keys are the z9 warp cover's ancestor closure —
    SQL-expressible; payload presence (not its encoded length) is hashed.
    The store lives under a stable tmp path (no driver collect, no rmtree
    race with lazy evaluation)."""
    import os
    import tempfile

    from freemap_tiler_spark.pipeline import run_tiler
    from freemap_tiler_spark.plans import store
    from freemap_tiler_spark.sources.raster_blocks import raster_blocks

    blocks = raster_blocks(spark, grid=2, width=64, height=64, bands=4)
    root = os.path.join(tempfile.gettempdir(), "freemap_contract_store")
    run_tiler(spark, blocks, root, max_zoom=9, min_zoom=7, tile_size=32, resume=False)
    return store.read_tiles(spark, root).select(
        "zoom", "x", "tms_y", (F.length("tile_data") > 0).alias("has_data")
    ).orderBy("zoom", "x", "tms_y")


def q_rasterize_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R-RAST vector->raster: polygon masks at z8 (mask stats rows-only)."""
    from freemap_tiler_spark.operators import rasterize as R

    polys = spark.createDataFrame(
        [(1, 0, QUAD_X, QUAD_Y, "quad")], pip_join.POLYGON_SCHEMA
    )
    masks = R.rasterize_polygons(polys, zoom=8, tile_size=64)
    return masks.select(
        "poly_id", "cell", F.length("mask").alias("mask_bytes")
    ).orderBy("cell")


def q_mask_nodata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 no-data masking: per-block zeroed-pixel count + surviving band-0
    sum after masking nodata=[0,_,_,_]; the oracle restates the block pixel
    law (x*3 + y*5 + k*17) % 256 in SQL."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    from freemap_tiler_spark.operators import raster_ops
    from freemap_tiler_spark.sources.raster_blocks import raster_blocks

    blocks = raster_blocks(spark, grid=2, width=64, height=64, bands=4).withColumn(
        "nodata",
        F.array(F.lit(0), F.lit(None).cast("int"), F.lit(None).cast("int"),
                F.lit(None).cast("int")),
    )
    masked = raster_ops.mask_nodata(blocks)

    def _stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                img = np.frombuffer(r.data, np.uint8).reshape(-1, 4)
                rows.append((int(r.block_x), int(r.block_y),
                             int((img[:, 0] == 0).sum()), int(img[:, 0].sum())))
            yield pd.DataFrame(rows, columns=["bx", "by", "zero_px", "band0_sum"])

    return masked.mapInPandas(
        _stats, "bx long, by long, zero_px long, band0_sum long"
    ).orderBy("bx", "by")


SQL_MASK_NODATA = """
WITH px AS (
  SELECT x.x // 64 AS bx, y.y // 64 AS by,
         (x.x * 3 + y.y * 5) % 256 AS v0
  FROM UNNEST(generate_series(0, 127)) AS x(x),
       UNNEST(generate_series(0, 127)) AS y(y))
SELECT bx, by,
       CAST(SUM(CASE WHEN v0 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_px,
       CAST(SUM(v0) AS BIGINT) AS band0_sum
FROM px GROUP BY bx, by ORDER BY bx, by
"""


def q_empty_markers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/X8 known-empty markers: pad the source bbox by one z9 tile on
    every side — the ring of covered-but-empty tiles becomes the marker
    set; oracle = padded-cover minus cover, pure arithmetic."""
    from freemap_tiler_spark.operators import raster_ops
    from freemap_tiler_spark.sources.raster_blocks import raster_blocks, source_bbox

    blocks = raster_blocks(spark, grid=2, width=64, height=64, bands=4)
    tiles = raster_ops.warp_blocks_to_tiles(blocks, 9, 32)
    x0, y0, x1, y1 = source_bbox(blocks)
    span = mercator.WORLD / (1 << 9)
    cover = raster_ops.tile_cover(
        spark, (x0 - span, y0 - span, x1 + span, y1 + span), 9
    )
    markers = raster_ops.empty_markers(cover, tiles)
    return markers.select(
        cells.cell_x("cell").alias("x"), cells.cell_y("cell").alias("y"),
        F.length("payload").alias("payload_bytes"),
    ).orderBy("x", "y")


def _sql_empty_markers() -> str:
    return f"""
WITH {_sql_warp_cover_cte(9)},
padded AS (
  SELECT xs.x, ys.y FROM c,
    UNNEST(generate_series(
      CAST(FLOOR(({_BLOCKS_X0} - span + origin) / span) AS BIGINT),
      CAST(FLOOR(({_BLOCKS_X0 + _BLOCKS_NPX * _BLOCKS_PX} + span + origin - 1e-9) / span) AS BIGINT))) AS xs(x),
    UNNEST(generate_series(
      CAST(FLOOR((origin - {_BLOCKS_YTOP} - span) / span) AS BIGINT),
      CAST(FLOOR((origin - {_BLOCKS_YTOP - _BLOCKS_NPX * _BLOCKS_PX} + span - 1e-9) / span) AS BIGINT))) AS ys(y))
SELECT x, y, 0::INT AS payload_bytes FROM padded
EXCEPT SELECT x, y, 0::INT FROM cover
ORDER BY x, y
"""


# thin diagonal strip (CCW convex quad, width ~0.044 deg << z8 tile span
# 1.40625 deg): crosses tiles with NO vertex and NO probe point inside —
# the shape the round-2 probe-only prune wrongly dropped
STRIP_X = [17.2118, 21.3118, 21.2882, 17.1882]
STRIP_Y = [47.578, 49.778, 49.822, 47.622]


def _q_prune(spark: SparkSession, vx: list, vy: list) -> DataFrame:
    import numpy as np

    from freemap_tiler_spark.operators import raster_ops
    from freemap_tiler_spark.pipeline import prune_cover_by_polygon_layer
    from freemap_tiler_spark.sources.geojson import polygon_df

    rings = [(np.asarray(vx, float), np.asarray(vy, float))]
    mx0, my0 = mercator.np_lonlat_to_merc(min(vx), min(vy))
    mx1, my1 = mercator.np_lonlat_to_merc(max(vx), max(vy))
    cover = raster_ops.tile_cover(spark, (float(mx0), float(my0), float(mx1), float(my1)), 8)
    kept = prune_cover_by_polygon_layer(cover, polygon_df(spark, rings), 8)
    return kept.select("x", "y").orderBy("x", "y")


def _sql_edge_hits_box(x1: float, y1: float, x2: float, y2: float) -> str:
    """SQL for: segment (x1,y1)-(x2,y2) intersects the SOLID rect
    (lon0,lat0,lon1,lat1) — Liang-Barsky slab clip with the edge constants
    folded in (dx/dy are Python-time constants, so the zero-extent cases
    become plain BETWEEN tests, same float64 ops as the numpy kernel)."""
    dx, dy = x2 - x1, y2 - y1
    if dx == 0 and dy == 0:
        return (f"({x1!r} >= lon0 AND {x1!r} <= lon1 AND "
                f"{y1!r} >= lat0 AND {y1!r} <= lat1)")
    if dx == 0:
        c, d = f"((lat0 - {y1!r}) / ({dy!r}))", f"((lat1 - {y1!r}) / ({dy!r}))"
        return (f"({x1!r} >= lon0 AND {x1!r} <= lon1 AND "
                f"GREATEST(0.0, LEAST({c}, {d})) <= LEAST(1.0, GREATEST({c}, {d})))")
    if dy == 0:
        a, b = f"((lon0 - {x1!r}) / ({dx!r}))", f"((lon1 - {x1!r}) / ({dx!r}))"
        return (f"({y1!r} >= lat0 AND {y1!r} <= lat1 AND "
                f"GREATEST(0.0, LEAST({a}, {b})) <= LEAST(1.0, GREATEST({a}, {b})))")
    a, b = f"((lon0 - {x1!r}) / ({dx!r}))", f"((lon1 - {x1!r}) / ({dx!r}))"
    c, d = f"((lat0 - {y1!r}) / ({dy!r}))", f"((lat1 - {y1!r}) / ({dy!r}))"
    return (f"(GREATEST(0.0, LEAST({a}, {b}), LEAST({c}, {d})) <= "
            f"LEAST(1.0, GREATEST({a}, {b}), GREATEST({c}, {d})))")


def _sql_prune_poly(vx: list, vy: list) -> str:
    # the prune runs in EPSG:3857 (the reference's Intersects space):
    # vertices are reprojected HERE with the same numpy formulas the
    # engine uses, so the SQL carries bit-identical double constants
    import numpy as np

    mvx, mvy = mercator.np_lonlat_to_merc(np.asarray(vx, float), np.asarray(vy, float))
    mvx, mvy = [float(v) for v in mvx], [float(v) for v in mvy]
    tx0 = mercator.TILE_X_SQL.format(lon=min(vx), z=8)
    tx1 = mercator.TILE_X_SQL.format(lon=max(vx), z=8)
    ty0 = mercator.TILE_Y_SQL.format(lat=max(vy), z=8)
    ty1 = mercator.TILE_Y_SQL.format(lat=min(vy), z=8)
    n = len(vx)
    inside = " AND ".join(
        f"(({mvx[(i + 1) % n]!r} - {mvx[i]!r}) * (py - {mvy[i]!r}) - "
        f"({mvy[(i + 1) % n]!r} - {mvy[i]!r}) * (px - {mvx[i]!r})) > 0"
        for i in range(n)
    )
    edge_hit = " OR ".join(
        _sql_edge_hits_box(mvx[i], mvy[i], mvx[(i + 1) % n], mvy[(i + 1) % n])
        for i in range(n)
    )
    span = mercator.WORLD / 256.0  # z8 tile span, meters
    org = mercator.ORIGIN
    return f"""
WITH b AS (SELECT {tx0} AS tx0, {tx1} AS tx1, {ty0} AS ty0, {ty1} AS ty1),
tiles AS (SELECT xs.x, ys.y FROM b,
          UNNEST(generate_series(tx0, tx1)) AS xs(x),
          UNNEST(generate_series(ty0, ty1)) AS ys(y)),
boxed AS (SELECT x, y,
                 x * {span!r} - {org!r} AS lon0,
                 (x + 1) * {span!r} - {org!r} AS lon1,
                 {org!r} - (y + 1) * {span!r} AS lat0,
                 {org!r} - y * {span!r} AS lat1
          FROM tiles),
probes AS (
  SELECT x, y, lon0 + (lon1 - lon0) * fx AS px, lat0 + (lat1 - lat0) * fy AS py,
         lon0, lon1, lat0, lat1
  FROM boxed, (VALUES (0.5, 0.5), (0.0, 0.0), (1.0, 0.0), (0.0, 1.0), (1.0, 1.0)) AS f(fx, fy)),
kept AS (
  SELECT DISTINCT x, y FROM probes WHERE {inside}
  UNION
  SELECT DISTINCT x, y FROM boxed WHERE {edge_hit})
SELECT x, y FROM kept ORDER BY x, y
"""


def _sql_polygon_prune() -> str:
    return _sql_prune_poly(QUAD_X, QUAD_Y)


def _sql_polygon_prune_edge() -> str:
    return _sql_prune_poly(STRIP_X, STRIP_Y)


def q_tile_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5 tile bounds: EPSG:3857 (min_x, min_y, max_x, max_y) of the z5
    tiles touched by the corpus — pure Column math vs the same closed form
    in SQL (bit-identical doubles: one multiply + one subtract each)."""
    g = _docs_geo(spark, sf_dir)
    z = 5
    span = mercator.WORLD / (1 << z)
    half = mercator.ORIGIN
    t = g.select(
        mercator.tile_x(F.col("lon"), F.lit(z)).alias("x"),
        mercator.tile_y(F.col("lat"), F.lit(z)).alias("y"),
    ).distinct()
    # integer millimetres: DuckDB contracts a*b-c into an FMA, so raw
    # doubles diverge from the JVM in the last 2 bits — ROUND(v*1000)
    # pins both engines to the same integer (mm precision).
    def mm(col):
        return F.round(col * 1000.0).cast("bigint")

    return t.select(
        "x", "y",
        mm(F.col("x").cast("double") * F.lit(span) - F.lit(half)).alias("min_x_mm"),
        mm(F.lit(half) - (F.col("y").cast("double") + 1.0) * F.lit(span)).alias("min_y_mm"),
        mm((F.col("x").cast("double") + 1.0) * F.lit(span) - F.lit(half)).alias("max_x_mm"),
        mm(F.lit(half) - F.col("y").cast("double") * F.lit(span)).alias("max_y_mm"),
    ).orderBy("x", "y")


def _sql_tile_bounds() -> str:
    tx, ty = _tile_sql(5)
    span = repr(mercator.WORLD / 32)
    half = repr(mercator.ORIGIN)
    return f"""
WITH t AS (SELECT DISTINCT {tx} AS x, {ty} AS y FROM documents)
SELECT x, y,
       CAST(ROUND((CAST(x AS DOUBLE) * {span} - {half}) * 1000.0) AS BIGINT) AS min_x_mm,
       CAST(ROUND(({half} - (CAST(y AS DOUBLE) + 1.0) * {span}) * 1000.0) AS BIGINT) AS min_y_mm,
       CAST(ROUND(((CAST(x AS DOUBLE) + 1.0) * {span} - {half}) * 1000.0) AS BIGINT) AS max_x_mm,
       CAST(ROUND(({half} - CAST(y AS DOUBLE) * {span}) * 1000.0) AS BIGINT) AS max_y_mm
FROM t ORDER BY x, y
"""


def q_incremental_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 incremental maintenance: build the z8 pyramid from the first
    400 docs, then incremental_update with the remaining docs — the
    repaired leaf level must satisfy the SAME from-scratch point->pixel
    law as raster_stats (shared oracle): incremental == full rebuild."""
    import os
    import shutil
    import tempfile

    from freemap_tiler_spark.operators import rasterize as R
    from freemap_tiler_spark.plans import lineage as L
    from freemap_tiler_spark.streaming.incremental import incremental_update

    g = _docs_geo(spark, sf_dir)
    old = g.where(F.col("doc_id") < 400)
    new = g.where(F.col("doc_id") >= 400)
    root = os.path.join(tempfile.gettempdir(), "contract_incr_pyr")
    shutil.rmtree(root, ignore_errors=True)
    leaves0 = pyramid.rasterize_level(
        pyramid.assign_cells(old, "lon", "lat", 8), tile_size=64
    )
    # depth 3 (z8..z6): the oracle checks the repaired LEAF level; deeper
    # ancestors are covered by the byte-identity pytest — keeps the query
    # inside the driver's per-query budget
    L.write_pyramid(spark, leaves0, root, 8, 6, 64, resume=False)
    incremental_update(spark, g, new, root, 8, 6, 64)
    leaves = spark.read.parquet(L.level_path(root, 8))
    return R.raster_stats(leaves, tile_size=64, bands=2).orderBy("cell")


def q_source_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/F8 geo-transform bbox scan: min/max over per-block corner
    coordinates (one tiny agg), integer millimetres; the oracle is the
    closed form from the generator constants."""
    from freemap_tiler_spark.sources.raster_blocks import raster_blocks, source_bbox

    blocks = raster_blocks(spark, grid=2, width=64, height=64, bands=4)
    x0, y0, x1, y1 = source_bbox(blocks)
    return spark.createDataFrame(
        [(int(round(x0 * 1000)), int(round(y0 * 1000)),
          int(round(x1 * 1000)), int(round(y1 * 1000)))],
        "min_x_mm long, min_y_mm long, max_x_mm long, max_y_mm long",
    )


def _sql_source_bbox() -> str:
    x1 = _BLOCKS_X0 + _BLOCKS_NPX * _BLOCKS_PX
    ybot = _BLOCKS_YTOP - _BLOCKS_NPX * _BLOCKS_PX
    return f"""
SELECT CAST(ROUND({_BLOCKS_X0} * 1000) AS BIGINT) AS min_x_mm,
       CAST(ROUND({ybot} * 1000) AS BIGINT) AS min_y_mm,
       CAST(ROUND({x1} * 1000) AS BIGINT) AS max_x_mm,
       CAST(ROUND({_BLOCKS_YTOP} * 1000) AS BIGINT) AS max_y_mm
"""


GEOJSON_FIXTURE = {
    "type": "Polygon",
    "coordinates": [
        [[17.0, 48.0], [18.0, 48.0], [18.0, 49.0], [17.0, 49.0], [17.0, 48.0]],
        [[17.2, 48.2], [17.4, 48.2], [17.4, 48.4], [17.2, 48.4], [17.2, 48.2]],
    ],
}


def q_sector_in_ancestor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F3/F4 cell bit-math: per doc cell at z10 — ancestor(2)'s x/y,
    the 4x4 sector position inside that ancestor, and the child index
    inside the parent (morton: x even bits, y odd bits => cell&3 =
    (x&1) + 2*(y&1)) — all pure Column arithmetic vs the same integer
    laws restated on DuckDB tile coords."""
    g = _docs_geo(spark, sf_dir)
    # stage the cell id and its ancestor as materialized columns: inlining
    # cell(...) into every output would nest the morton interleave inside
    # compact1by1's 2^5-way self-duplication (cell_x(ancestor(cell(...)))
    # expands to ~64 copies of the whole projection tree per output
    # column) — measured 60s of pure Catalyst planning for 500 rows.
    # Same cell-algebra functions, same values; only the expression
    # sharing changes.
    staged = g.select(
        "doc_id",
        cells.cell(
            F.lit(10),
            mercator.tile_x(F.col("lon"), F.lit(10)),
            mercator.tile_y(F.col("lat"), F.lit(10)),
        ).alias("c"),
    ).select("doc_id", F.col("c"), cells.ancestor(F.col("c"), 2).alias("anc"))
    return staged.select(
        "doc_id",
        cells.cell_x(F.col("anc")).alias("ax"),
        cells.cell_y(F.col("anc")).alias("ay"),
        cells.sector_in_ancestor_x(F.col("c"), 2).alias("sx"),
        cells.sector_in_ancestor_y(F.col("c"), 2).alias("sy"),
        cells.child_index(F.col("c")).alias("ci"),
    ).orderBy("doc_id")


def _sql_sector_in_ancestor() -> str:
    tx = mercator.TILE_X_SQL.format(lon="lon", z=10)
    ty = mercator.TILE_Y_SQL.format(lat="lat", z=10)
    return f"""
WITH p AS (SELECT doc_id, {LON_SQL} AS lon, {LAT_SQL} AS lat FROM documents),
t AS (SELECT doc_id, {tx} AS tx, {ty} AS ty FROM p)
SELECT doc_id, tx // 4 AS ax, ty // 4 AS ay,
       tx % 4 AS sx, ty % 4 AS sy,
       (tx % 2) + 2 * (ty % 2) AS ci
FROM t ORDER BY doc_id
"""


def q_reproject_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 polygon reprojection 4326 -> 3857 (src/geojson.rs:44-55):
    per-ring vertex count + coordinate sums in MILLIMETERS (integer,
    huge margin over cross-engine libm ULP differences) vs the same
    spherical-mercator formulas in DuckDB SQL."""
    from freemap_tiler_spark.sources.geojson import (
        parse_geojson_polygon,
        polygon_df,
        reproject_rings_3857,
    )

    rings = reproject_rings_3857(parse_geojson_polygon(GEOJSON_FIXTURE))
    df = polygon_df(spark, rings)
    mm = lambda col: F.aggregate(  # noqa: E731
        F.transform(col, lambda v: F.round(v * 1000.0).cast("long")),
        F.lit(0).cast("long"), lambda a, x: a + x,
    )
    return df.select(
        "ring_idx",
        F.size("xs").alias("n_vertices"),
        mm("xs").alias("sum_x_mm"),
        mm("ys").alias("sum_y_mm"),
    ).orderBy("ring_idx")


def _sql_reproject_rings() -> str:
    from freemap_tiler_spark.functions.mercator import R

    parts = []
    for idx, ring in enumerate(GEOJSON_FIXTURE["coordinates"]):
        vals = ", ".join(f"({p[0]!r}, {p[1]!r})" for p in ring)
        parts.append(f"""
SELECT {idx} AS ring_idx, COUNT(*)::BIGINT AS n_vertices,
       CAST(SUM(CAST(ROUND({R!r} * RADIANS(lon) * 1000.0) AS BIGINT)) AS BIGINT) AS sum_x_mm,
       CAST(SUM(CAST(ROUND({R!r} * LN(TAN(PI() / 4.0 + RADIANS(lat) / 2.0)) * 1000.0) AS BIGINT)) AS BIGINT) AS sum_y_mm
FROM (VALUES {vals}) AS v(lon, lat)""")
    return " UNION ALL ".join(parts) + " ORDER BY ring_idx"


def q_geojson_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/F19 GeoJSON source: parse the outer+hole fixture into the polygon
    DataFrame; per-ring vertex count and coordinate sums in microdegrees
    (integer-exact) vs a literal oracle."""
    from freemap_tiler_spark.sources.geojson import parse_geojson_polygon, polygon_df

    rings = parse_geojson_polygon(GEOJSON_FIXTURE)
    df = polygon_df(spark, rings)
    return df.select(
        "ring_idx",
        F.size("xs").alias("n_vertices"),
        F.aggregate(
            F.transform("xs", lambda v: F.round(v * 1_000_000).cast("long")),
            F.lit(0).cast("long"), lambda a, x: a + x,
        ).alias("sum_x_udeg"),
        F.aggregate(
            F.transform("ys", lambda v: F.round(v * 1_000_000).cast("long")),
            F.lit(0).cast("long"), lambda a, x: a + x,
        ).alias("sum_y_udeg"),
    ).orderBy("ring_idx")


def _sql_geojson_parse() -> str:
    rows = []
    for idx, ring in enumerate(GEOJSON_FIXTURE["coordinates"]):
        sx = sum(int(round(p[0] * 1_000_000)) for p in ring)
        sy = sum(int(round(p[1] * 1_000_000)) for p in ring)
        rows.append(f"({idx}, {len(ring)}, {sx}::BIGINT, {sy}::BIGINT)")
    return f"""
SELECT * FROM (VALUES {', '.join(rows)})
AS t(ring_idx, n_vertices, sum_x_udeg, sum_y_udeg) ORDER BY ring_idx
"""


def q_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 streaming: the event-time windowed per-cell rollup run as a
    REAL Structured Streaming query (readStream -> watermark -> window ->
    complete-mode memory sink, availableNow trigger) over a deterministic
    corpus drop; the oracle recomputes windows + cells from the corpus law
    in SQL.  Window starts emitted as epoch seconds (integer-exact)."""
    import os
    import shutil
    import tempfile

    from freemap_tiler_spark.sources.corpus import geotagged_corpus
    from freemap_tiler_spark.streaming import ingest as SI

    drop = os.path.join(tempfile.gettempdir(), "contract_stream_drop")
    shutil.rmtree(drop, ignore_errors=True)
    geotagged_corpus(spark, 2000).coalesce(1).write.parquet(drop)
    ck = tempfile.mkdtemp(prefix="contract_stream_ck_")
    q = (
        SI.streaming_tile_counts(SI.stream_corpus(spark, drop), zoom=8,
                                 window="10 minutes")
        .writeStream.outputMode("complete")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .format("memory")
        .queryName("contract_stream_rollup")
        .start()
    )
    q.awaitTermination(300)
    return (
        spark.table("contract_stream_rollup")
        .select(F.col("win_start").cast("long").alias("win_epoch"), "cell", "docs")
        .orderBy("win_epoch", "cell")
    )


def _sql_stream_rollup() -> str:
    """Corpus law (sources/corpus.py) + 10-minute windows in SQL."""
    lon = ("CASE WHEN i % 10 < 3 THEN ([17.11, 21.26, 18.74])[CAST(i % 3 AS INT) + 1]"
           " + ((i * 2654435761) % 1000003 / 1000003.0 - 0.5) * 0.05"
           " ELSE 16.8 + (i * 2654435761) % 1000003 / 1000003.0 * 5.8 END")
    lat = ("CASE WHEN i % 10 < 3 THEN ([48.15, 48.72, 49.21])[CAST(i % 3 AS INT) + 1]"
           " + ((i * 2246822519) % 1000033 / 1000033.0 - 0.5) * 0.05"
           " ELSE 47.7 + (i * 2246822519) % 1000033 / 1000033.0 * 1.9 END")
    tx = mercator.TILE_X_SQL.format(lon="lon", z=8)
    ty = mercator.TILE_Y_SQL.format(lat="lat", z=8)
    morton = _morton_sql("tx", "ty")
    return f"""
WITH rows_ AS (SELECT i, {lon} AS lon, {lat} AS lat,
                      CAST(epoch(TIMESTAMP '2025-01-01 00:00:00' + i * INTERVAL 1 SECOND) AS BIGINT) AS ts
               FROM (SELECT UNNEST(RANGE(0, 2000)) AS i)
               WHERE i % 5 != 4),
keyed AS (SELECT (ts // 600) * 600 AS win_epoch, {tx} AS tx, {ty} AS ty FROM rows_),
cells_ AS (SELECT win_epoch, ((8::BIGINT << 58) | {morton}) AS cell FROM keyed)
SELECT win_epoch, cell, COUNT(*) AS docs
FROM cells_ GROUP BY win_epoch, cell ORDER BY win_epoch, cell
"""


def q_extract_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The input_hint's extraction invariant: extract_text(html) must be
    BYTE-IDENTICAL to the stored text for every url (the graft's per-row
    parity requirement vs the reference).  Runs on the in-job corpus; the
    oracle reproduces the url law from the generator constants."""
    from freemap_tiler_spark.sources.corpus import geotagged_corpus

    c = geotagged_corpus(spark, 2000)
    return c.select(
        "url", (T.extract_text("html") == F.col("text")).alias("ok")
    ).orderBy("url")


SQL_EXTRACT_TEXT = """
SELECT printf('https://example.org/%s/%08d',
              (['en','de','sk','cs'])[CAST(i % 4 AS INT) + 1],
              CAST(i AS BIGINT)) AS url,
       TRUE AS ok
FROM (SELECT UNNEST(RANGE(0, 2000)) AS i) ORDER BY url
"""


def _sql_pyramid_build() -> str:
    """Ancestor closure of the z8 leaf set (same cover law as the green
    pyramid_keys oracle, per-tile rows) + the constant payload length of a
    64px Gray+Alpha tile (64*64*2 = 8192)."""
    tx, ty = _tile_sql(8)
    return f"""
WITH t AS (SELECT DISTINCT {tx} AS tx, {ty} AS ty FROM documents),
z AS (SELECT UNNEST(RANGE(0, 9)) AS zoom),
lv AS (SELECT DISTINCT zoom, tx >> (8 - zoom) AS x, ty >> (8 - zoom) AS y
       FROM t CROSS JOIN z)
SELECT zoom, x, y, (1::BIGINT << zoom) - 1 - y AS tms_y,
       8192::INT AS payload_bytes
FROM lv ORDER BY zoom, x, y
"""


# the synthetic raster-blocks table's constants (sources/raster_blocks.py):
# 2x2 blocks of 64x64 px at 100 m/px anchored at (1870000, 6280000) EPSG:3857
_BLOCKS_X0, _BLOCKS_YTOP, _BLOCKS_PX, _BLOCKS_NPX = 1870000.0, 6280000.0, 100.0, 128


def _sql_warp_cover_cte(zoom: int) -> str:
    """Cover of the synthetic blocks' bbox at ``zoom`` — the warp
    enumeration law restated over the block constants."""
    x1 = _BLOCKS_X0 + _BLOCKS_NPX * _BLOCKS_PX
    ybot = _BLOCKS_YTOP - _BLOCKS_NPX * _BLOCKS_PX
    return f"""
c AS (SELECT {mercator.ORIGIN!r} AS origin, {mercator.WORLD!r} / {1 << zoom}.0 AS span),
cover AS (
  SELECT xs.x, ys.y FROM c,
    UNNEST(generate_series(
      CAST(FLOOR(({_BLOCKS_X0} + origin) / span) AS BIGINT),
      CAST(FLOOR(({x1} + origin - 1e-9) / span) AS BIGINT))) AS xs(x),
    UNNEST(generate_series(
      CAST(FLOOR((origin - {_BLOCKS_YTOP}) / span) AS BIGINT),
      CAST(FLOOR((origin - {ybot} - 1e-9) / span) AS BIGINT))) AS ys(y))
"""


def _sql_warp_tiles() -> str:
    """z9 cover keys + the constant payload of a 32px RGBA tile, once per
    source branch (synthetic blocks table / ingested GeoTIFF fixture —
    identical extent and pixel law, so identical covers)."""
    return f"""
WITH {_sql_warp_cover_cte(9)},
srcs AS (SELECT UNNEST(['geotiff', 'synthetic', 'vrt']) AS src)
SELECT src, 9::BIGINT AS zoom, x, y, 4096::INT AS payload_bytes
FROM cover CROSS JOIN srcs ORDER BY src, x, y
"""


def _sql_tile_store() -> str:
    """Ancestor closure (z7..z9) of the z9 warp cover, TMS-flipped; every
    covered tile holds data (the blocks' alpha holes are sub-tile)."""
    return f"""
WITH {_sql_warp_cover_cte(9)},
z AS (SELECT UNNEST(RANGE(7, 10)) AS zoom),
lv AS (SELECT DISTINCT zoom, x >> (9 - zoom) AS x, y >> (9 - zoom) AS y
       FROM cover CROSS JOIN z)
SELECT zoom, x, (1::BIGINT << zoom) - 1 - y AS tms_y, TRUE AS has_data
FROM lv ORDER BY zoom, x, tms_y
"""


def _sql_rasterize_polygon() -> str:
    """Quad-bbox cover at z8, keeping tiles with >= 1 of the 64x64 pixel
    centers strictly inside the convex quad (half-plane conjunction —
    same oracle device as pip_join); mask length is the constant 64*64."""
    conds = []
    n = len(QUAD_X)
    for i in range(n):
        x1, y1 = QUAD_X[i], QUAD_Y[i]
        x2, y2 = QUAD_X[(i + 1) % n], QUAD_Y[(i + 1) % n]
        conds.append(
            f"(({x2} - {x1}) * (plat - {y1}) - ({y2} - {y1}) * (plon - {x1})) > 0"
        )
    inside = " AND ".join(conds)
    tx0 = mercator.TILE_X_SQL.format(lon=min(QUAD_X), z=8)
    tx1 = mercator.TILE_X_SQL.format(lon=max(QUAD_X), z=8)
    ty0 = mercator.TILE_Y_SQL.format(lat=max(QUAD_Y), z=8)  # north = min ty
    ty1 = mercator.TILE_Y_SQL.format(lat=min(QUAD_Y), z=8)
    morton = _morton_sql("tx", "ty")
    # pixel-center latitude: degrees(atan(sinh(pi*(1 - 2*Y/2^8)))), sinh by exp
    yy = "(ty + (j + 0.5) / 64.0) / 256.0"
    t_ = f"(pi() * (1.0 - 2.0 * {yy}))"
    plat = f"degrees(atan((exp({t_}) - exp(-{t_})) / 2.0))"
    plon = "(tx + (i + 0.5) / 64.0) / 256.0 * 360.0 - 180.0"
    return f"""
WITH b AS (SELECT {tx0} AS tx0, {tx1} AS tx1, {ty0} AS ty0, {ty1} AS ty1),
tiles AS (SELECT xs.tx, ys.ty FROM b,
          UNNEST(generate_series(tx0, tx1)) AS xs(tx),
          UNNEST(generate_series(ty0, ty1)) AS ys(ty)),
centers AS (SELECT tx, ty, {plon} AS plon, {plat} AS plat
            FROM tiles,
                 UNNEST(generate_series(0, 63)) AS ii(i),
                 UNNEST(generate_series(0, 63)) AS jj(j)),
hit AS (SELECT DISTINCT tx, ty FROM centers WHERE {inside})
SELECT 1::BIGINT AS poly_id, ((8::BIGINT << 58) | {morton}) AS cell,
       4096::INT AS mask_bytes
FROM hit ORDER BY cell
"""


def _sql_media_features() -> str:
    """Literal-fixture oracle: the fake-decode -> bilinear-resize -> channel
    -mean chain recomputed driver-side with hashlib + numpy (independent of
    Spark execution), rounded exactly like F.round (HALF_UP on the shortest
    decimal repr, which BigDecimal.valueOf and str(float) share)."""
    import hashlib
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from freemap_tiler_spark.functions.resample import resize_bilinear
    from freemap_tiler_spark.operators.multimodal import _fake_decode

    rows = []
    for mid in range(200):
        payload = hashlib.sha256(str(mid).encode()).hexdigest().encode()
        thumb = resize_bilinear(_fake_decode(payload, 320, 240), 64, 64)
        mean_r = float(thumb.astype(np.float64)[:, :, 0].mean())
        r = Decimal(str(mean_r)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
        rows.append(f"({mid}::BIGINT, {float(r)!r}::DOUBLE, 70)")
    values = ",\n".join(rows)
    return f"""
SELECT * FROM (VALUES {values}) AS t(media_id, mean_r, feat_dim)
ORDER BY media_id
"""


# ---------------------------------------------------------------------------
# compound queries (round 4): the driver's CORRECTNESS record keeps at most
# 50 entries (r3 recorded exactly the first 50 of 55 registered queries —
# VERDICT r3 "What's missing" #1), so cheap scalar queries are merged into
# compound ones with a `src` tag column.  Operator coverage is unchanged:
# each compound row set is the UNION ALL of the original queries' rows, and
# the original single-operator callables stay importable for pytest use.
# ---------------------------------------------------------------------------


def q_rollup_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET/§2.7 grouping sets, compound: ROLLUP(lineitem) ∪ CUBE(orders)."""
    r = q_rollup_agg(spark, sf_dir).select(
        F.lit("rollup").alias("src"), F.col("rf").alias("g1"),
        F.col("ls").alias("g2"), "cnt", F.col("sum_qty").alias("val"))
    c = q_cube_agg(spark, sf_dir).select(
        F.lit("cube").alias("src"), F.col("st").alias("g1"),
        F.col("pri").alias("g2"), "cnt", F.col("rev_cents").alias("val"))
    return r.unionByName(c).orderBy("src", "g1", "g2")


SQL_ROLLUP_CUBE_AGG = f"""
SELECT * FROM (
  SELECT 'rollup' AS src, rf AS g1, ls AS g2, cnt, sum_qty AS val
  FROM ({SQL_ROLLUP_AGG}) r
  UNION ALL
  SELECT 'cube' AS src, st AS g1, pri AS g2, cnt, rev_cents AS val
  FROM ({SQL_CUBE_AGG}) c
) ORDER BY src, g1, g2
"""


def q_string_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String + date expression shapes, compound (src-tagged union)."""
    s = q_string_funcs(spark, sf_dir).select(
        F.lit("str").alias("src"), F.col("p_partkey").cast("bigint").alias("key"),
        F.col("prefix").alias("s1"), F.col("brand_type").alias("s2"),
        F.col("name_len").cast("bigint").alias("n1"),
        F.lit(0).cast("bigint").alias("n2"))
    d = q_date_funcs(spark, sf_dir).select(
        F.lit("date").alias("src"),
        (F.col("yr").cast("bigint") * 100 + F.col("mo")).alias("key"),
        F.lit("").alias("s1"), F.lit("").alias("s2"),
        F.col("cnt").alias("n1"), F.col("rev_cents").alias("n2"))
    return s.unionByName(d).orderBy("src", "key")


SQL_STRING_DATE_FUNCS = f"""
SELECT * FROM (
  SELECT 'str' AS src, CAST(p_partkey AS BIGINT) AS key, prefix AS s1,
         brand_type AS s2, CAST(name_len AS BIGINT) AS n1, CAST(0 AS BIGINT) AS n2
  FROM ({SQL_STRING_FUNCS}) s
  UNION ALL
  SELECT 'date' AS src, CAST(yr * 100 + mo AS BIGINT) AS key, '' AS s1, '' AS s2,
         cnt AS n1, rev_cents AS n2
  FROM ({SQL_DATE_FUNCS}) d
) ORDER BY src, key
"""


def q_rep_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition metrics per document (Gopher-style repetition filters):
    duplicate-word fraction, top-word fraction (explode → two combiner-
    friendly aggregations — the 100 TB shape), and duplicate-word-trigram
    fraction (bounded per-row array math, no shuffle)."""
    d = (load_table(spark, sf_dir, "documents")
         .where(F.trim(F.col("text")) != "")
         .withColumn("words", F.split(F.trim(F.col("text")), r"\s+")))
    wc = (d.select("doc_id", F.explode("words").alias("word"))
          .groupBy("doc_id", "word").agg(F.count("*").alias("c")))
    agg = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_c"))
    tri = d.select("doc_id", F.expr(
        "CASE WHEN size(words) < 3 THEN array() "
        "ELSE transform(sequence(1, size(words)-2), i -> "
        "concat_ws(' ', element_at(words, i), element_at(words, i+1), "
        "element_at(words, i+2))) END").alias("tg"))
    tri = tri.select(
        "doc_id",
        F.when(F.size("tg") == 0, F.lit(0.0)).otherwise(
            F.lit(1.0) - F.size(F.array_distinct("tg")) /
            F.size("tg").cast("double")).alias("dup_tri_frac"))
    return (agg.join(tri, "doc_id")
            .select("doc_id",
                    F.col("n_words").cast("bigint").alias("n_words"),
                    F.col("n_distinct").cast("bigint").alias("n_distinct"),
                    (F.lit(1.0) - F.col("n_distinct") /
                     F.col("n_words").cast("double")).alias("dup_word_frac"),
                    (F.col("top_c") / F.col("n_words").cast("double")
                     ).alias("top_word_frac"),
                    "dup_tri_frac")
            .orderBy("doc_id"))


SQL_REP_METRICS = r"""
WITH base AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
  FROM documents WHERE trim(text) <> ''
), w AS (
  SELECT doc_id, unnest(words) AS word FROM base
), wc AS (
  SELECT doc_id, word, count(*) AS c FROM w GROUP BY 1, 2
), agg AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
         CAST(count(*) AS BIGINT) AS n_distinct, max(c) AS top_c
  FROM wc GROUP BY 1
), tri AS (
  SELECT doc_id,
         CASE WHEN len(words) < 3 THEN []
              ELSE [concat_ws(' ', words[i], words[i+1], words[i+2])
                    FOR i IN generate_series(1, len(words)-2)] END AS tg
  FROM base
)
SELECT a.doc_id, n_words, n_distinct,
       1.0 - n_distinct / CAST(n_words AS DOUBLE) AS dup_word_frac,
       top_c / CAST(n_words AS DOUBLE) AS top_word_frac,
       CASE WHEN len(tg) = 0 THEN 0.0
            ELSE 1.0 - len(list_distinct(tg)) / CAST(len(tg) AS DOUBLE)
       END AS dup_tri_frac
FROM agg a JOIN tri USING (doc_id)
ORDER BY doc_id
"""


def _pii_built_text() -> Column:
    """Deterministic PII-bearing text derived from (doc_id, text): the sf
    tables carry no natural emails/phones/IPs, so the scrub operator is
    exercised on a constructed-but-column-derived payload (identical CASE
    arithmetic in the SQL twin — no randomness, no external data)."""
    did = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    email = F.when(did % 3 == 0, F.concat(
        F.lit("user"), s(did), F.lit("@example.com "))).otherwise(F.lit(""))
    phone = F.when(did % 4 == 0, F.concat(
        F.lit("tel "), s(did % 700 + 200), F.lit("-"), s(did % 900 + 100),
        F.lit("-"), s(did % 9000 + 1000), F.lit(" "))).otherwise(F.lit(""))
    ip = F.when(did % 5 == 0, F.concat(
        F.lit("ip 10."), s(did % 256), F.lit("."), s((did * 7) % 256),
        F.lit("."), s(did % 254 + 1))).otherwise(F.lit(""))
    return F.concat(F.col("text"), F.lit(" contact "), email, phone, ip)


_SQL_PII_BUILT = """
concat(text, ' contact ',
  CASE WHEN doc_id % 3 = 0
       THEN concat('user', CAST(doc_id AS VARCHAR), '@example.com ')
       ELSE '' END,
  CASE WHEN doc_id % 4 = 0
       THEN concat('tel ', CAST(doc_id % 700 + 200 AS VARCHAR), '-',
                   CAST(doc_id % 900 + 100 AS VARCHAR), '-',
                   CAST(doc_id % 9000 + 1000 AS VARCHAR), ' ')
       ELSE '' END,
  CASE WHEN doc_id % 5 = 0
       THEN concat('ip 10.', CAST(doc_id % 256 AS VARCHAR), '.',
                   CAST((doc_id * 7) % 256 AS VARCHAR), '.',
                   CAST(doc_id % 254 + 1 AS VARCHAR))
       ELSE '' END)
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing over documents: per-category counts on the original
    text and an md5 witness of the redacted text (byte-identity of the
    scrubbed string is what the hash verifies cross-engine)."""
    d = load_table(spark, sf_dir, "documents")
    built = _pii_built_text()
    counts = T.pii_counts(built)
    return (d.select(
        "doc_id",
        F.substring(F.md5(T.scrub_pii(built).cast("binary")), 1, 16
                    ).alias("scrub_md5"),
        counts["n_email"].alias("n_email"),
        counts["n_phone"].alias("n_phone"),
        counts["n_ip"].alias("n_ip"))
        .orderBy("doc_id"))


def _sql_pii_scrub() -> str:
    return """
SELECT doc_id,
       substr(md5({scrub}), 1, 16) AS scrub_md5,
       CAST(len(regexp_extract_all(built, '{email}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(built, '{phone}')) AS BIGINT) AS n_phone,
       CAST(len(regexp_extract_all(built, '{ip}')) AS BIGINT) AS n_ip
FROM (SELECT doc_id, {built} AS built FROM documents)
ORDER BY doc_id
""".format(built=_SQL_PII_BUILT, scrub=T.sql_scrub_pii("built"),
           email=T.PII_EMAIL, phone=T.PII_PHONE, ip=T.PII_IP)


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + exact dedup: scheme/www/query/fragment/
    trailing-slash-insensitive grouping (doc_id % 50 folds 500 docs onto
    ~50 canonical URLs; keep-min-id, count dups). One hash aggregation on
    the canonical key — the 100 TB dedup shape."""
    d = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://WWW."), F.col("source"), F.lit(".Example.COM/p/"),
        (F.col("doc_id") % 50).cast("string"), F.lit("/?utm_source=x&ref="),
        F.col("doc_id").cast("string"), F.lit("#frag"))
    return (d.select(T.canonical_url(url).alias("canon_url"), "doc_id")
            .groupBy("canon_url")
            .agg(F.min("doc_id").alias("keep_doc"),
                 F.count("*").alias("dups"))
            .orderBy("canon_url"))


def _sql_url_dedup() -> str:
    raw = ("concat('https://WWW.', source, '.Example.COM/p/', "
           "CAST(doc_id % 50 AS VARCHAR), '/?utm_source=x&ref=', "
           "CAST(doc_id AS VARCHAR), '#frag')")
    return """
SELECT {canon} AS canon_url,
       CAST(min(doc_id) AS BIGINT) AS keep_doc,
       CAST(count(*) AS BIGINT) AS dups
FROM documents
GROUP BY 1 ORDER BY canon_url
""".format(canon=T.sql_canonical_url(raw))


DUP_SPAN_N = 8


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact dedup (dedup.duplicate_spans — Lee et al.
    2022): maximal token spans whose 8-token windows re-occur corpus-wide.
    Planted duplicates (every doc_id % 10 re-appears under id+100000, the
    simhash fixture) guarantee full-document spans; organic repeats in the
    synthetic corpus surface as partial spans."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    planted = d.select("doc_id", "text").unionByName(
        d.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    return (dedup.duplicate_spans(planted, n=DUP_SPAN_N)
            .orderBy("doc_id", "tok_start"))


def _sql_dup_spans() -> str:
    n = DUP_SPAN_N
    return rf"""
WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
all_docs AS (SELECT doc_id, text FROM base
             UNION ALL SELECT doc_id + 100000, text FROM base WHERE doc_id % 10 = 0),
tok AS (SELECT doc_id, string_split_regex(TRIM(LOWER(text)), '\s+') t FROM all_docs),
pos AS (SELECT doc_id, t, UNNEST(RANGE(1, LEN(t) - {n} + 2)) AS pos1
        FROM tok WHERE LEN(t) >= {n}),
wh AS (SELECT doc_id, pos1 - 1 AS pos,
              CAST(('0x' || substr(md5(ARRAY_TO_STRING(t[pos1:pos1 + {n} - 1], ' ')), 1, 15)) AS BIGINT) whash
       FROM pos),
hot AS (SELECT whash, count(*) occ FROM wh GROUP BY 1 HAVING count(*) >= 2),
hits AS (SELECT wh.doc_id, wh.pos, hot.occ FROM wh JOIN hot USING (whash)),
isl AS (SELECT doc_id, pos, occ,
               CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= {n}
                    THEN 0 ELSE 1 END AS new_isl
        FROM hits),
sp AS (SELECT doc_id, pos, occ,
              SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS span_id
       FROM isl)
SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS tok_start,
       CAST(MAX(pos) + {n} AS BIGINT) AS tok_end,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(MAX(occ) AS BIGINT) AS max_occ
FROM sp GROUP BY doc_id, span_id
ORDER BY doc_id, tok_start
"""


def q_scrub_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr removal (dedup.scrub_spans — Lee et al. 2022 §3.2):
    cut duplicated spans from all but their canonical occurrence over the
    same planted corpus as q_dup_spans.  Emits only affected docs
    (n_removed > 0) with an md5 of the rebuilt text, so the oracle checks
    the exact surviving token sequence."""
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    planted = d.select("doc_id", "text").unionByName(
        d.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    return (dedup.scrub_spans(planted, n=DUP_SPAN_N)
            .where(F.col("n_removed") > 0)
            .select("doc_id", F.md5("clean_text").alias("clean_md5"),
                    "n_tokens", "n_removed")
            .orderBy("doc_id"))


def _sql_scrub_spans() -> str:
    n = DUP_SPAN_N
    return rf"""
WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
all_docs AS (SELECT doc_id, text FROM base
             UNION ALL SELECT doc_id + 100000, text FROM base WHERE doc_id % 10 = 0),
tok AS (SELECT doc_id, string_split_regex(TRIM(LOWER(text)), '\s+') t,
               string_split_regex(TRIM(text), '\s+') t_orig FROM all_docs),
pos AS (SELECT doc_id, t, UNNEST(RANGE(1, LEN(t) - {n} + 2)) AS pos1
        FROM tok WHERE LEN(t) >= {n}),
wh AS (SELECT doc_id, pos1 - 1 AS pos,
              CAST(('0x' || substr(md5(ARRAY_TO_STRING(t[pos1:pos1 + {n} - 1], ' ')), 1, 15)) AS BIGINT) whash
       FROM pos),
hot AS (SELECT whash FROM wh GROUP BY 1 HAVING count(*) >= 2),
hits AS (SELECT wh.doc_id, wh.pos, wh.whash FROM wh JOIN hot USING (whash)),
flagged AS (SELECT doc_id, pos,
                   (ROW_NUMBER() OVER (PARTITION BY whash ORDER BY doc_id, pos) = 1) AS kept
            FROM hits),
isl AS (SELECT doc_id, pos, kept,
               CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= {n}
                    THEN 0 ELSE 1 END AS new_isl
        FROM flagged),
sp AS (SELECT doc_id, pos, kept,
              SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS span_id
       FROM isl),
cut AS (SELECT doc_id, MIN(pos) s, MAX(pos) + {n} e
        FROM sp GROUP BY doc_id, span_id
        HAVING MAX(CASE WHEN kept THEN 1 ELSE 0 END) = 0),
tokpos AS (SELECT doc_id, t_orig[p1] tk, p1 - 1 p FROM
           (SELECT doc_id, t_orig, UNNEST(RANGE(1, LEN(t_orig) + 1)) AS p1
            FROM tok)),
keep_toks AS (SELECT tp.doc_id, tp.tk, tp.p FROM tokpos tp
              ANTI JOIN cut c
              ON tp.doc_id = c.doc_id AND tp.p >= c.s AND tp.p < c.e),
clean AS (SELECT doc_id, string_agg(tk, ' ' ORDER BY p) ctext,
                 count(*) ntok
          FROM keep_toks GROUP BY doc_id)
SELECT a.doc_id,
       md5(COALESCE(c.ctext, '')) AS clean_md5,
       CAST(COALESCE(c.ntok, 0) AS BIGINT) AS n_tokens,
       CAST(LEN(string_split_regex(TRIM(a.text), '\s+')) - COALESCE(c.ntok, 0) AS BIGINT) AS n_removed
FROM all_docs a LEFT JOIN clean c USING (doc_id)
WHERE LEN(string_split_regex(TRIM(a.text), '\s+')) - COALESCE(c.ntok, 0) > 0
ORDER BY a.doc_id
"""


MIX_ALPHA = 0.5


def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alpha-smoothed domain mixture sampling (operators/mixing.py —
    the XLM/mT5 p_d ∝ n_d^alpha recipe) over `documents` keyed by the
    skewed `lang` column: per-language input size, DETERMINISTIC kept
    size, and keep-rate."""
    from freemap_tiler_spark.operators import mixing

    d = load_table(spark, sf_dir, "documents")
    return (mixing.mix_audit(d, domain_col="lang", alpha=MIX_ALPHA)
            .orderBy("lang"))


def _sql_domain_mix() -> str:
    a = MIX_ALPHA
    return rf"""
WITH counts AS (SELECT lang, count(*) n_d FROM documents GROUP BY 1),
tot AS (SELECT SUM(POW(n_d, {a})) wsum, SUM(n_d) n_tot FROM counts),
rates AS (SELECT lang, n_d,
                 LEAST(1.0, n_tot * POW(n_d, {a}) / wsum / n_d) rate
          FROM counts, tot),
kept AS (SELECT d.lang, count(*) n_out
         FROM documents d JOIN rates r USING (lang)
         WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':mix'), 1, 15)) AS BIGINT)
               / 1152921504606846976.0 < r.rate
         GROUP BY 1)
SELECT r.lang, CAST(r.n_d AS BIGINT) AS n_in,
       CAST(COALESCE(k.n_out, 0) AS BIGINT) AS n_out, r.rate
FROM rates r LEFT JOIN kept k USING (lang)
ORDER BY r.lang
"""


CONTAM_N = 13


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set contamination (dedup.contamination — the GPT-3 appendix-C
    13-gram collision check): train = all documents, test = the
    doc_id % 97 == 0 slice (which also lives in train, so those docs are
    fully contaminated and organic near-dups partially).  Emits only
    contaminated docs."""
    d = load_table(spark, sf_dir, "documents")
    test = d.where(F.col("doc_id") % 97 == 0)
    return (dedup.contamination(d, test, n=CONTAM_N)
            .where(F.col("n_hits") > 0)
            .orderBy("doc_id"))


def _sql_contamination() -> str:
    n = CONTAM_N
    return rf"""
WITH tok AS (SELECT doc_id, string_split_regex(TRIM(LOWER(text)), '\s+') t
             FROM documents),
wpos AS (SELECT doc_id, t, UNNEST(RANGE(1, LEN(t) - {n} + 2)) AS pos1
         FROM tok WHERE LEN(t) >= {n}),
wh AS (SELECT doc_id,
              CAST(('0x' || substr(md5(ARRAY_TO_STRING(t[pos1:pos1 + {n} - 1], ' ')), 1, 15)) AS BIGINT) whash
       FROM wpos),
test AS (SELECT DISTINCT whash FROM wh WHERE doc_id % 97 = 0),
tot AS (SELECT doc_id, GREATEST(LEN(t) - {n} + 1, 0) n_windows FROM tok),
hits AS (SELECT wh.doc_id, count(*) n_hits FROM wh SEMI JOIN test USING (whash)
         GROUP BY 1)
SELECT t.doc_id, CAST(t.n_windows AS BIGINT) AS n_windows,
       CAST(h.n_hits AS BIGINT) AS n_hits,
       h.n_hits * 1.0 / t.n_windows AS frac
FROM tot t JOIN hits h USING (doc_id)
WHERE h.n_hits > 0
ORDER BY t.doc_id
"""


PACK_LEN = 2048


def q_pack_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/packing.py — GPT-style concat-and-
    chunk): per-sequence fill summary for the documents corpus packed
    into 2048-token training blocks.  Exercises the two-level cumsum
    (no single-partition global window)."""
    from freemap_tiler_spark.operators import packing

    d = load_table(spark, sf_dir, "documents")
    return packing.pack_summary(d, seq_len=PACK_LEN).orderBy("seq_id")


def _sql_pack_summary() -> str:
    L = PACK_LEN
    return rf"""
WITH tok AS (SELECT doc_id,
                    CASE WHEN TRIM(text) = '' THEN 0
                         ELSE LEN(string_split_regex(TRIM(text), '\s+')) END n
             FROM documents),
nz AS (SELECT doc_id, n FROM tok WHERE n > 0),
off AS (SELECT doc_id, n,
               CAST(COALESCE(SUM(n) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) o
        FROM nz),
ex AS (SELECT doc_id, n, o, UNNEST(RANGE(o // {L}, (o + n - 1) // {L} + 1)) seq_id
       FROM off),
per AS (SELECT seq_id, doc_id,
               GREATEST(seq_id * {L} - o, 0) s,
               LEAST((seq_id + 1) * {L} - o, n) e
        FROM ex)
SELECT CAST(seq_id AS BIGINT) AS seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(SUM(e - s) AS BIGINT) AS n_tokens,
       CAST({L} - SUM(e - s) AS BIGINT) AS n_pad
FROM per GROUP BY seq_id
ORDER BY seq_id
"""


def q_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsampling mixture (mixing.domain_mix_epochs — the full mT5 alpha-
    sampling with epoch replication of cold domains) audited per lang."""
    from freemap_tiler_spark.operators import mixing

    d = load_table(spark, sf_dir, "documents")
    return (mixing.mix_epochs_audit(d, domain_col="lang", alpha=MIX_ALPHA)
            .orderBy("lang"))


def _sql_mix_epochs() -> str:
    a = MIX_ALPHA
    return rf"""
WITH counts AS (SELECT lang, count(*) n_d FROM documents GROUP BY 1),
tot AS (SELECT SUM(POW(n_d, {a})) wsum, SUM(n_d) n_tot FROM counts),
rates AS (SELECT lang, n_d, n_tot * POW(n_d, {a}) / wsum / n_d rate
          FROM counts, tot),
cop AS (SELECT d.doc_id, d.lang, r.rate,
               CAST(FLOOR(r.rate) AS BIGINT)
               + CASE WHEN CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':mix'), 1, 15)) AS BIGINT)
                           / 1152921504606846976.0 < r.rate - FLOOR(r.rate)
                      THEN 1 ELSE 0 END n_copies
        FROM documents d JOIN rates r USING (lang)),
emitted AS (SELECT lang, doc_id, UNNEST(RANGE(0, n_copies)) epoch FROM cop)
SELECT r.lang, CAST(r.n_d AS BIGINT) AS n_in,
       CAST(COALESCE(e.n_out, 0) AS BIGINT) AS n_out,
       CAST(COALESCE(e.max_epoch, -1) AS BIGINT) AS max_epoch, r.rate
FROM rates r
LEFT JOIN (SELECT lang, count(*) n_out, MAX(epoch) max_epoch
           FROM emitted GROUP BY 1) e USING (lang)
ORDER BY r.lang
"""


def q_lm_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM perplexity scoring (Wenzek et al. 2020): a bigram
    LM with add-k smoothing trains ON the corpus (two map-side-combined
    count shuffles), then every doc's cross-entropy in nats is an
    explode + two LEFT joins + avg.  Exact-arithmetic twin in DuckDB."""
    from freemap_tiler_spark.operators import lm

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    model = lm.train_bigram_lm(docs)
    return lm.doc_log_perplexity(docs, model)


def q_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis compound: token counting ∪ language-ID ∪ quality
    scoring ∪ repetition metrics ∪ PII scrubbing ∪ URL dedup ∪
    duplicate-span substring dedup ∪ ExactSubstr scrub ∪ domain-mixture
    sampling (down-sample + epoch-upsample variants) ∪ test-set
    contamination ∪ sequence packing ∪ LM perplexity over `documents`
    (src-tagged; covers the thirteen text-pipeline operators in one
    registry row)."""
    t = q_token_count(spark, sf_dir).select(
        F.lit("tok").alias("src"), F.col("lang").alias("skey"),
        F.col("docs").cast("bigint").alias("ikey"),
        F.col("ws_tokens").cast("bigint").alias("c1"),
        F.col("bpe_tokens").cast("bigint").alias("c2"),
        F.lit(0.0).alias("q1"), F.lit(0.0).alias("q2"), F.lit(0.0).alias("q3"))
    l = q_lang_id(spark, sf_dir).select(
        F.lit("lang").alias("src"), F.col("lang_pred").alias("skey"),
        F.col("docs").cast("bigint").alias("ikey"),
        F.lit(0).cast("bigint").alias("c1"), F.lit(0).cast("bigint").alias("c2"),
        F.lit(0.0).alias("q1"), F.lit(0.0).alias("q2"), F.lit(0.0).alias("q3"))
    q = q_quality_score(spark, sf_dir).select(
        F.lit("qual").alias("src"), F.lit("").alias("skey"),
        F.col("doc_id").cast("bigint").alias("ikey"),
        F.col("n_words").cast("bigint").alias("c1"),
        F.lit(0).cast("bigint").alias("c2"),
        F.col("punct_ratio").alias("q1"), F.col("stopword_ratio").alias("q2"),
        F.col("quality").alias("q3"))
    r = q_rep_metrics(spark, sf_dir).select(
        F.lit("rep").alias("src"), F.lit("").alias("skey"),
        F.col("doc_id").cast("bigint").alias("ikey"),
        F.col("n_words").cast("bigint").alias("c1"),
        F.col("n_distinct").cast("bigint").alias("c2"),
        F.col("dup_word_frac").alias("q1"),
        F.col("top_word_frac").alias("q2"),
        F.col("dup_tri_frac").alias("q3"))
    p = q_pii_scrub(spark, sf_dir).select(
        F.lit("pii").alias("src"), F.col("scrub_md5").alias("skey"),
        F.col("doc_id").cast("bigint").alias("ikey"),
        F.col("n_email").cast("bigint").alias("c1"),
        F.col("n_phone").cast("bigint").alias("c2"),
        F.col("n_ip").cast("double").alias("q1"),
        F.lit(0.0).alias("q2"), F.lit(0.0).alias("q3"))
    u = q_url_dedup(spark, sf_dir).select(
        F.lit("url").alias("src"), F.col("canon_url").alias("skey"),
        F.col("keep_doc").cast("bigint").alias("ikey"),
        F.col("dups").cast("bigint").alias("c1"),
        F.lit(0).cast("bigint").alias("c2"),
        F.lit(0.0).alias("q1"), F.lit(0.0).alias("q2"), F.lit(0.0).alias("q3"))
    s = q_dup_spans(spark, sf_dir).select(
        F.lit("span").alias("src"), F.lit("").alias("skey"),
        F.col("doc_id").cast("bigint").alias("ikey"),
        F.col("tok_start").cast("bigint").alias("c1"),
        F.col("tok_end").cast("bigint").alias("c2"),
        F.col("n_windows").cast("double").alias("q1"),
        F.col("max_occ").cast("double").alias("q2"),
        F.lit(0.0).alias("q3"))
    sc = q_scrub_spans(spark, sf_dir).select(
        F.lit("scrub").alias("src"), F.col("clean_md5").alias("skey"),
        F.col("doc_id").cast("bigint").alias("ikey"),
        F.col("n_tokens").cast("bigint").alias("c1"),
        F.col("n_removed").cast("bigint").alias("c2"),
        F.lit(0.0).alias("q1"), F.lit(0.0).alias("q2"), F.lit(0.0).alias("q3"))
    # c2 = -1 (not 0): with max_epoch = 0 the mixup leg's row for the same
    # lang ties this leg on EVERY integer sort key, leaving row order to
    # the float `rate` — which the two legs compute through different
    # aggregation plans, so a 1-ulp divergence flips the sorted order in
    # Spark but not DuckDB (observed flake).  A distinct integer key keeps
    # the driver's sorted compare deterministic.
    m = q_domain_mix(spark, sf_dir).select(
        F.lit("mix").alias("src"), F.col("lang").alias("skey"),
        F.col("n_out").cast("bigint").alias("ikey"),
        F.col("n_in").cast("bigint").alias("c1"),
        F.lit(-1).cast("bigint").alias("c2"),
        F.col("rate").alias("q1"), F.lit(0.0).alias("q2"), F.lit(0.0).alias("q3"))
    ct = q_contamination(spark, sf_dir).select(
        F.lit("contam").alias("src"), F.lit("").alias("skey"),
        F.col("doc_id").cast("bigint").alias("ikey"),
        F.col("n_windows").cast("bigint").alias("c1"),
        F.col("n_hits").cast("bigint").alias("c2"),
        F.col("frac").alias("q1"), F.lit(0.0).alias("q2"), F.lit(0.0).alias("q3"))
    pk = q_pack_summary(spark, sf_dir).select(
        F.lit("pack").alias("src"), F.lit("").alias("skey"),
        F.col("seq_id").cast("bigint").alias("ikey"),
        F.col("n_docs").cast("bigint").alias("c1"),
        F.col("n_tokens").cast("bigint").alias("c2"),
        F.col("n_pad").cast("double").alias("q1"),
        F.lit(0.0).alias("q2"), F.lit(0.0).alias("q3"))
    mu = q_mix_epochs(spark, sf_dir).select(
        F.lit("mixup").alias("src"), F.col("lang").alias("skey"),
        F.col("n_out").cast("bigint").alias("ikey"),
        F.col("n_in").cast("bigint").alias("c1"),
        F.col("max_epoch").cast("bigint").alias("c2"),
        F.col("rate").alias("q1"), F.lit(0.0).alias("q2"), F.lit(0.0).alias("q3"))
    # c2 = -2: leg-unique integer so a cross-leg sort tie can never fall
    # through to the float log_ppl (same flake class as the mix leg)
    pl = q_lm_ppl(spark, sf_dir).select(
        F.lit("ppl").alias("src"), F.lit("").alias("skey"),
        F.col("doc_id").cast("bigint").alias("ikey"),
        F.col("n_bigrams").cast("bigint").alias("c1"),
        F.lit(-2).cast("bigint").alias("c2"),
        F.col("log_ppl").alias("q1"),
        F.lit(0.0).alias("q2"), F.lit(0.0).alias("q3"))
    return (t.unionByName(l).unionByName(q).unionByName(r).unionByName(p)
            .unionByName(u).unionByName(s).unionByName(sc).unionByName(m)
            .unionByName(ct).unionByName(pk).unionByName(mu)
            .unionByName(pl)
            .orderBy("src", "skey", "ikey"))


def _sql_lm_ppl() -> str:
    """DuckDB replay of q_lm_ppl with identical arithmetic: same
    tokenizer (lowercase alpha runs), same add-0.5 smoothing, same
    log-domain averaging."""
    return """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z]+'),
                     x -> x <> '') AS toks
  FROM documents
),
bg AS (
  SELECT doc_id, toks[CAST(i AS INT)] AS w1, toks[CAST(i AS INT) + 1] AS w2
  FROM toks, UNNEST(range(1, len(toks))) AS u(i)
),
pair AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
ctx AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
vocab AS (
  SELECT COUNT(DISTINCT w) AS v
  FROM (SELECT UNNEST(toks) AS w FROM toks)
),
scored AS (
  SELECT bg.doc_id,
         ln((COALESCE(pair.c12, 0) + 0.5)
            / (COALESCE(ctx.c1, 0) + 0.5 * vocab.v)) AS lp
  FROM bg
  LEFT JOIN pair ON bg.w1 = pair.w1 AND bg.w2 = pair.w2
  LEFT JOIN ctx ON bg.w1 = ctx.w1
  CROSS JOIN vocab
)
SELECT doc_id, COUNT(*) AS n_bigrams, -AVG(lp) AS log_ppl
FROM scored GROUP BY doc_id
"""


def _sql_text_metrics() -> str:
    return f"""
SELECT * FROM (
  SELECT 'tok' AS src, lang AS skey, CAST(docs AS BIGINT) AS ikey,
         CAST(ws_tokens AS BIGINT) AS c1, CAST(bpe_tokens AS BIGINT) AS c2,
         0.0 AS q1, 0.0 AS q2, 0.0 AS q3
  FROM ({SQL_TOKEN_COUNT}) t
  UNION ALL
  SELECT 'lang' AS src, lang_pred AS skey, CAST(docs AS BIGINT) AS ikey,
         CAST(0 AS BIGINT) AS c1, CAST(0 AS BIGINT) AS c2,
         0.0 AS q1, 0.0 AS q2, 0.0 AS q3
  FROM ({_sql_lang_id()}) l
  UNION ALL
  SELECT 'qual' AS src, '' AS skey, CAST(doc_id AS BIGINT) AS ikey,
         CAST(n_words AS BIGINT) AS c1, CAST(0 AS BIGINT) AS c2,
         punct_ratio AS q1, stopword_ratio AS q2, quality AS q3
  FROM ({SQL_QUALITY_SCORE}) q
  UNION ALL
  SELECT 'rep' AS src, '' AS skey, CAST(doc_id AS BIGINT) AS ikey,
         CAST(n_words AS BIGINT) AS c1, CAST(n_distinct AS BIGINT) AS c2,
         dup_word_frac AS q1, top_word_frac AS q2, dup_tri_frac AS q3
  FROM ({SQL_REP_METRICS}) r
  UNION ALL
  SELECT 'pii' AS src, scrub_md5 AS skey, CAST(doc_id AS BIGINT) AS ikey,
         CAST(n_email AS BIGINT) AS c1, CAST(n_phone AS BIGINT) AS c2,
         CAST(n_ip AS DOUBLE) AS q1, 0.0 AS q2, 0.0 AS q3
  FROM ({_sql_pii_scrub()}) p
  UNION ALL
  SELECT 'url' AS src, canon_url AS skey, CAST(keep_doc AS BIGINT) AS ikey,
         CAST(dups AS BIGINT) AS c1, CAST(0 AS BIGINT) AS c2,
         0.0 AS q1, 0.0 AS q2, 0.0 AS q3
  FROM ({_sql_url_dedup()}) u
  UNION ALL
  SELECT 'span' AS src, '' AS skey, CAST(doc_id AS BIGINT) AS ikey,
         CAST(tok_start AS BIGINT) AS c1, CAST(tok_end AS BIGINT) AS c2,
         CAST(n_windows AS DOUBLE) AS q1, CAST(max_occ AS DOUBLE) AS q2,
         0.0 AS q3
  FROM ({_sql_dup_spans()}) s
  UNION ALL
  SELECT 'scrub' AS src, clean_md5 AS skey, CAST(doc_id AS BIGINT) AS ikey,
         CAST(n_tokens AS BIGINT) AS c1, CAST(n_removed AS BIGINT) AS c2,
         0.0 AS q1, 0.0 AS q2, 0.0 AS q3
  FROM ({_sql_scrub_spans()}) sc
  UNION ALL
  SELECT 'mix' AS src, lang AS skey, CAST(n_out AS BIGINT) AS ikey,
         CAST(n_in AS BIGINT) AS c1, CAST(-1 AS BIGINT) AS c2,
         rate AS q1, 0.0 AS q2, 0.0 AS q3
  FROM ({_sql_domain_mix()}) mx
  UNION ALL
  SELECT 'contam' AS src, '' AS skey, CAST(doc_id AS BIGINT) AS ikey,
         CAST(n_windows AS BIGINT) AS c1, CAST(n_hits AS BIGINT) AS c2,
         frac AS q1, 0.0 AS q2, 0.0 AS q3
  FROM ({_sql_contamination()}) ctm
  UNION ALL
  SELECT 'pack' AS src, '' AS skey, CAST(seq_id AS BIGINT) AS ikey,
         CAST(n_docs AS BIGINT) AS c1, CAST(n_tokens AS BIGINT) AS c2,
         CAST(n_pad AS DOUBLE) AS q1, 0.0 AS q2, 0.0 AS q3
  FROM ({_sql_pack_summary()}) pk
  UNION ALL
  SELECT 'mixup' AS src, lang AS skey, CAST(n_out AS BIGINT) AS ikey,
         CAST(n_in AS BIGINT) AS c1, CAST(max_epoch AS BIGINT) AS c2,
         rate AS q1, 0.0 AS q2, 0.0 AS q3
  FROM ({_sql_mix_epochs()}) mu
  UNION ALL
  SELECT 'ppl' AS src, '' AS skey, CAST(doc_id AS BIGINT) AS ikey,
         CAST(n_bigrams AS BIGINT) AS c1, CAST(-2 AS BIGINT) AS c2,
         log_ppl AS q1, 0.0 AS q2, 0.0 AS q3
  FROM ({_sql_lm_ppl()}) pl
) ORDER BY src, skey, ikey
"""


def q_polygon_prune_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3/P2 compound: the quad-fixture prune ∪ the thin-strip exactness
    witness (fixture-tagged; registered as `polygon_prune`)."""
    a = _q_prune(spark, QUAD_X, QUAD_Y).select(
        F.lit("quad").alias("fixture"), "x", "y")
    b = _q_prune(spark, STRIP_X, STRIP_Y).select(
        F.lit("strip").alias("fixture"), "x", "y")
    return a.unionByName(b).orderBy("fixture", "x", "y")


def _sql_polygon_prune_both() -> str:
    return f"""
SELECT * FROM (
  SELECT 'quad' AS fixture, x, y FROM ({_sql_polygon_prune()}) a
  UNION ALL
  SELECT 'strip' AS fixture, x, y FROM ({_sql_polygon_prune_edge()}) b
) ORDER BY fixture, x, y
"""


def q_simhash_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash compound: signatures ∪ pigeonhole near-dup pairs
    (src-tagged; frees a registry slot for dedup_components under the
    driver's 50-row record cap)."""
    s = q_simhash(spark, sf_dir).select(
        F.lit("sig").alias("src"), F.col("doc_id").cast("bigint").alias("k1"),
        F.lit(0).cast("bigint").alias("k2"), F.col("simhash").cast("bigint").alias("val"))
    p = q_simhash_pairs(spark, sf_dir).select(
        F.lit("pair").alias("src"), F.col("id_a").cast("bigint").alias("k1"),
        F.col("id_b").cast("bigint").alias("k2"), F.col("hamming").cast("bigint").alias("val"))
    return s.unionByName(p).orderBy("src", "k1", "k2")


def _sql_simhash_all() -> str:
    return f"""
SELECT * FROM (
  SELECT 'sig' AS src, CAST(doc_id AS BIGINT) AS k1, CAST(0 AS BIGINT) AS k2,
         CAST(simhash AS BIGINT) AS val
  FROM ({_sql_simhash()}) s
  UNION ALL
  SELECT 'pair' AS src, CAST(id_a AS BIGINT) AS k1, CAST(id_b AS BIGINT) AS k2,
         CAST(hamming AS BIGINT) AS val
  FROM ({_sql_simhash_pairs()}) p
) ORDER BY src, k1, k2
"""


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed connected components over the verified MinHash-LSH
    near-dup pairs (the CLUSTER step of dedup: keep one doc per
    component).  Alternating Large-Star/Small-Star in DataFrame ops
    (operators/dedup.connected_components); every doc in the planted
    corpus gets a component id (= the smallest doc_id it transitively
    duplicates; isolated docs label themselves).  Oracle: recursive-CTE
    transitive closure + MIN over the SAME pair SQL — an unmerged pair,
    a wrong root, or a dropped singleton all fail the hash."""
    d = load_table(spark, sf_dir, "documents")
    planted = d.unionByName(
        d.where(F.col("doc_id") % 10 == 0).withColumn("doc_id", F.col("doc_id") + 10000000)
    )
    pairs = dedup.jaccard_verify(
        dedup.minhash_lsh_pairs(planted, num_hashes=8, bands=4), planted, threshold=0.8
    )
    comp = dedup.connected_components(pairs, "id_a", "id_b")
    all_ids = planted.select(F.col("doc_id").cast("long").alias("node")).distinct()
    return (
        all_ids.join(comp, "node", "left")
        .select("node", F.coalesce("component", F.col("node")).alias("component"))
        .orderBy("node")
    )


def _sql_dedup_components() -> str:
    return f"""
WITH RECURSIVE
lsh AS (SELECT id_a, id_b FROM ({_sql_minhash_lsh_dedup()}) t),
docs AS (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
         UNION ALL
         SELECT CAST(doc_id + 10000000 AS BIGINT) FROM documents WHERE doc_id % 10 = 0),
edges AS (
  SELECT CAST(id_a AS BIGINT) AS a, CAST(id_b AS BIGINT) AS b FROM lsh
  UNION
  SELECT CAST(id_b AS BIGINT), CAST(id_a AS BIGINT) FROM lsh
  UNION
  SELECT doc_id, doc_id FROM docs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT a AS node, CAST(MIN(b) AS BIGINT) AS component
FROM reach GROUP BY a ORDER BY node
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# Exactly 50 entries (the driver's CORRECTNESS record kept the first 50 of
# 55 in r3), ordered so the five queries absent from CORRECTNESS_r03.json
# come FIRST — both halves of the VERDICT r3 item-1 remedy at once.
QUERIES = {
    "ann_topk": q_ann_topk,
    "media_features": q_media_features,
    "rasterize_polygon": q_rasterize_polygon,
    "warp_tiles": q_warp_tiles,
    "tile_store": q_tile_store,
    "limits_fold": q_limits_fold,
    "resume_anti_join": q_resume_anti_join,
    "semi_join_agg": q_semi_join_agg,
    "window_topk": q_window_topk_asof,
    "broadcast_join_agg": q_broadcast_join_agg,
    "distinct_union_closure": q_distinct_union_closure,
    "rollup_cube_agg": q_rollup_cube_agg,
    "set_ops": q_set_ops,
    "string_date_funcs": q_string_date_funcs,
    "salted_count": q_salted_count,
    "geo_extract": q_geo_extract,
    "tile_assign": q_tile_assign,
    "pyramid_keys": q_pyramid_keys,
    "limits_per_zoom": q_limits_per_zoom,
    "pip_join": q_pip_join,
    "knn": q_knn,
    "text_metrics": q_text_metrics,
    "exact_dedup": q_exact_dedup,
    "minhash_signatures": q_minhash_signatures,
    "simhash": q_simhash_all,
    "dedup_components": q_dedup_components,
    "ngram_jaccard": q_ngram_jaccard,
    "minhash_lsh_dedup": q_minhash_lsh_dedup,
    "similarity_topk": q_similarity_topk,
    "event_window": q_event_window,
    "extract_text": q_extract_text,
    "stream_rollup": q_stream_rollup,
    "source_bbox": q_source_bbox,
    "incremental_update": q_incremental_update,
    "geojson_parse": q_geojson_parse,
    "sector_in_ancestor": q_sector_in_ancestor,
    "reproject_rings": q_reproject_rings,
    "codec_roundtrip": q_codec_roundtrip,
    "mask_nodata": q_mask_nodata,
    "empty_markers": q_empty_markers,
    "polygon_prune": q_polygon_prune_both,
    "tile_bounds": q_tile_bounds,
    "knn_grid": q_knn_grid,
    "pip_join_cells": q_pip_join_cells,
    "pip_join_salted": q_pip_join_salted,
    "embedding_near_dups": q_embedding_near_dups,
    "ivf_topk": q_ivf_topk,
    "raster_points": q_raster_points,
    "raster_stats": q_raster_stats,
    "pyramid_build": q_pyramid_build,
}


def oracle_sql() -> dict[str, str]:
    return {
        "ann_topk": SQL_ANN_TOPK,
        "media_features": _sql_media_features(),
        "rasterize_polygon": _sql_rasterize_polygon(),
        "warp_tiles": _sql_warp_tiles(),
        "tile_store": _sql_tile_store(),
        "limits_fold": SQL_LIMITS_FOLD,
        "resume_anti_join": SQL_RESUME_ANTI_JOIN,
        "semi_join_agg": SQL_SEMI_JOIN_AGG,
        "window_topk": SQL_WINDOW_TOPK_ASOF,
        "broadcast_join_agg": SQL_BROADCAST_JOIN_AGG,
        "distinct_union_closure": SQL_DISTINCT_UNION_CLOSURE,
        "rollup_cube_agg": SQL_ROLLUP_CUBE_AGG,
        "set_ops": SQL_SET_OPS,
        "string_date_funcs": SQL_STRING_DATE_FUNCS,
        "salted_count": SQL_SALTED_COUNT,
        "geo_extract": SQL_GEO_EXTRACT,
        "tile_assign": _sql_tile_assign(),
        "pyramid_keys": _sql_pyramid_keys(),
        "limits_per_zoom": _sql_limits_per_zoom(),
        "pip_join": _sql_pip_join(),
        "knn": SQL_KNN,
        "text_metrics": _sql_text_metrics(),
        "exact_dedup": SQL_EXACT_DEDUP,
        "minhash_signatures": _sql_minhash_signatures(),
        "simhash": _sql_simhash_all(),
        "dedup_components": _sql_dedup_components(),
        "ngram_jaccard": SQL_NGRAM_JACCARD,
        "minhash_lsh_dedup": _sql_minhash_lsh_dedup(),
        "similarity_topk": SQL_SIMILARITY_TOPK,
        "event_window": SQL_EVENT_WINDOW,
        "extract_text": SQL_EXTRACT_TEXT,
        "stream_rollup": _sql_stream_rollup(),
        "source_bbox": _sql_source_bbox(),
        "incremental_update": _sql_raster_stats(),
        "geojson_parse": _sql_geojson_parse(),
        "sector_in_ancestor": _sql_sector_in_ancestor(),
        "reproject_rings": _sql_reproject_rings(),
        "codec_roundtrip": _sql_codec_roundtrip(),
        "mask_nodata": SQL_MASK_NODATA,
        "empty_markers": _sql_empty_markers(),
        "polygon_prune": _sql_polygon_prune_both(),
        "tile_bounds": _sql_tile_bounds(),
        "knn_grid": SQL_KNN_GRID,
        "pip_join_cells": _sql_pip_join(),
        "pip_join_salted": _sql_pip_join(),
        "embedding_near_dups": SQL_EMBEDDING_NEAR_DUPS,
        "ivf_topk": SQL_IVF_COMPOUND,
        "raster_points": _sql_raster_points(),
        "raster_stats": _sql_raster_stats(),
        "pyramid_build": _sql_pyramid_build(),
    }
