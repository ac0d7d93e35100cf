"""Round-6 optimization equivalence tests.

Each r6 rewrite replaced an implementation, not a contract; these tests pin
the new internals to the old semantics directly (the oracle queries cover
the end results; these cover the equivalence arguments the rewrites rely
on).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from freemap_tiler_spark.operators import dedup, knn, similarity
from oracles import minhash_signature


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # planted exact dups exercise the hot-bucket star/chain paths too
    return d.unionByName(
        d.where(F.col("doc_id") % 7 == 0).withColumn(
            "doc_id", F.col("doc_id") + 5_000_000
        )
    )


def test_minhash_arrow_signatures_match_column_path(spark, docs):
    """The one-pass Arrow signature kernel reproduces the Column-HOF
    MinHash signature (tests/oracles.py) BIT-FOR-BIT: same tokens, same
    md5 bytes, same (A*h+B) % P arithmetic, NULL text included."""
    nulls = spark.createDataFrame(
        [(-1, None), (-2, "")], "doc_id long, text string")
    d = docs.select("doc_id", "text").unionByName(nulls)
    got = {r[0]: list(r[1:]) for r in dedup.minhash_signatures(d).collect()}
    ref = {r.doc_id: list(r.sig) for r in d.select(
        "doc_id", minhash_signature(F.col("text"), 8).alias("sig")).collect()}
    assert len(got) == d.count()
    assert got == ref


def test_minhash_pairs_match_prebatch_formulation(spark, docs):
    """Pair set == the pre-r6 Column/groupBy formulation, re-stated here
    verbatim (signatures via Column HOFs, bucket sizing via groupBy+join)."""
    new = {tuple(r) for r in dedup.minhash_lsh_pairs(
        docs, num_hashes=8, bands=4).collect()}

    from freemap_tiler_spark.functions.text import md5_fingerprint

    num_hashes, bands, r = 8, 4, 2
    sig = docs.select(
        F.col("doc_id").alias("_id"),
        minhash_signature(F.col("text"), num_hashes).alias("_s"),
    ).select("_id", *[F.col("_s")[i].alias(f"_h{i}") for i in range(num_hashes)])
    banded = sig.select(
        "_id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                md5_fingerprint(F.concat_ws(",", *[
                    F.col(f"_h{b * r + j}") for j in range(r)
                ])).alias("bucket"),
            ) for b in range(bands)
        ])).alias("bb"),
    ).select("_id", "bb.band", "bb.bucket")
    sizes = banded.groupBy("band", "bucket").agg(
        F.count("*").alias("_n"), F.min("_id").alias("_rep"))
    tagged = banded.join(sizes, ["band", "bucket"])
    small = tagged.where(F.col("_n") <= 64).select("_id", "band", "bucket")
    l, rr = small.alias("l"), small.alias("r")
    pairs_small = l.join(
        rr, (F.col("l.band") == F.col("r.band"))
        & (F.col("l.bucket") == F.col("r.bucket"))
        & (F.col("l._id") < F.col("r._id"))
    ).select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
    pairs_star = tagged.where(
        (F.col("_n") > 64) & (F.col("_id") != F.col("_rep"))
    ).select(F.col("_rep").alias("id_a"), F.col("_id").alias("id_b"))
    big_sig = tagged.where(F.col("_n") > 64).select(
        "_id", "band", "bucket").join(sig, "_id")
    wchain = Window.partitionBy("band", "bucket").orderBy(
        *[f"_h{i}" for i in range(num_hashes)], "_id")
    chained = big_sig.withColumn("_prev", F.lag("_id").over(wchain)).where(
        F.col("_prev").isNotNull())
    pairs_chain = chained.select(
        F.least("_prev", "_id").alias("id_a"),
        F.greatest("_prev", "_id").alias("id_b"))
    old = {tuple(r) for r in pairs_small.unionByName(pairs_star)
           .unionByName(pairs_chain).distinct().collect()}
    assert new == old


def test_embedding_near_dups_match_groupby_formulation(spark, sf_dir):
    """Pair set == the former groupBy-and-join formulation, re-stated here
    (bucket sizing by groupBy + join, a second SRP pass for the multiprobe
    left side), on sf0.001 embeddings plus a 300-copy flood that takes
    the hot-bucket star and chain, with multiprobe=2."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    e = e.unionByName(
        spark.range(300).crossJoin(e.where("vec_id = 1").select("embedding"))
        .select((F.col("id") + 10_000_000).alias("vec_id"), "embedding"))
    dim, thr, n_planes, n_tables, mp, cap = 64, 0.45, 6, 8, 2, 64
    new = {tuple(r) for r in similarity.embedding_near_dups(
        e, dim=dim, threshold=thr, n_planes=n_planes, n_tables=n_tables,
        multiprobe=mp, max_bucket_size=cap).select("id_a", "id_b").collect()}

    co = e.select(F.col("vec_id").alias("_id"), F.col("embedding").alias("_v"))
    l = similarity.srp_bucket_rows(
        co, "_id", "_v", dim, n_planes, n_tables, mp).alias("l")
    r = similarity.srp_bucket_rows(co, "_id", "_v", dim, n_planes, n_tables, 0)
    sizes = r.groupBy("tbl", "bkt").agg(
        F.count("*").alias("_n"), F.min("_id").alias("_rep"))
    tagged = r.join(sizes, ["tbl", "bkt"])
    small = tagged.where(F.col("_n") <= cap).select("_id", "tbl", "bkt").alias("r")
    pairs_small = l.join(
        small, (F.col("l.tbl") == F.col("r.tbl")) & (F.col("l.bkt") == F.col("r.bkt"))
        & (F.col("l._id") < F.col("r._id"))
    ).select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
    pairs_star = tagged.where(
        (F.col("_n") > cap) & (F.col("_id") != F.col("_rep"))
    ).select(F.col("_rep").alias("id_a"), F.col("_id").alias("id_b"))
    big = tagged.where(F.col("_n") > cap).select("_id", "tbl", "bkt")
    sig = r.join(big.select("_id").distinct(), "_id", "semi").groupBy("_id").agg(
        F.array_join(F.transform(
            F.sort_array(F.collect_list(F.struct("tbl", "bkt"))),
            lambda s: F.format_string("%02d:%016x", s["tbl"], s["bkt"]),
        ), ",").alias("_sigkey"))
    wchain = Window.partitionBy("tbl", "bkt").orderBy("_sigkey", "_id")
    chained = big.join(sig, "_id").withColumn(
        "_prev", F.lag("_id").over(wchain)).where(F.col("_prev").isNotNull())
    pairs_chain = chained.select(
        F.least("_prev", "_id").alias("id_a"), F.greatest("_prev", "_id").alias("id_b"))
    old = {tuple(r) for r in (
        pairs_small.unionByName(pairs_star).unionByName(pairs_chain)
        .dropDuplicates(["id_a", "id_b"])
        .join(co.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va")), "id_a")
        .join(co.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb")), "id_b")
        .where(similarity.cosine("_va", "_vb") >= thr)
        .select("id_a", "id_b").collect())}
    assert any(a >= 10_000_000 for a, _ in new)  # the flood took the star/chain
    assert new == old


def test_brute_topk_matches_hof_formulation(spark, sf_dir):
    """GEMM brute_force_topk selects the same (probe, vec, rank) rows as
    the pre-r6 crossJoin + HOF-cosine formulation."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pr = emb.where(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("probe_id"), "embedding")
    new = similarity.brute_force_topk(pr, emb, k=7).select(
        "probe_id", "vec_id", "rank").toPandas().sort_values(
        ["probe_id", "rank"]).reset_index(drop=True)
    joined = emb.select(F.col("vec_id"), F.col("embedding").alias("_cv")) \
        .crossJoin(F.broadcast(pr.select(
            "probe_id", F.col("embedding").alias("_pv")))) \
        .withColumn("cos", similarity.cosine("_pv", "_cv"))
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), "vec_id")
    old = joined.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= 7).select("probe_id", "vec_id", "rank").toPandas() \
        .sort_values(["probe_id", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(new, old)


def test_knn_neighbor_filter_path_matches_wrap_branch(spark):
    """The r6 shuffle-free neighbor enumeration (off-grid y filtered) must
    agree with the clamp+groupBy branch.  zoom=2 (2R+1 > 2^zoom) forces the
    groupBy branch; zoom=3 (2R+1 <= 2^zoom) takes the filter branch; zoom 0
    and 1 drop the rings wider than the world (schedule [1] and [1, 2]).
    For probes/points placed identically relative to the grid edge, the k
    nearest sets must agree with the brute-force oracle at every zoom."""
    probes = spark.createDataFrame(pd.DataFrame({
        "probe_id": [1, 2, 3],
        "lon": [0.0, 179.0, -179.0],
        "lat": [84.0, -84.0, 83.5],
    }))
    pts = spark.createDataFrame(pd.DataFrame({
        "point_id": list(range(60)),
        "lon": [((i * 37) % 360) - 180.0 for i in range(60)],
        "lat": [(82.0 + (i % 13) * 0.3) * (1 if i % 2 else -1)
                for i in range(60)],
    }))
    brute = {(r.probe_id, r.point_id) for r in knn.knn_join_brute(
        probes, pts, k=3).collect()}
    for zoom in (0, 1, 2, 3):
        got = {(r.probe_id, r.point_id) for r in knn.knn_join(
            probes, pts, k=3, zoom=zoom).collect()}
        # the grid operator is ring-capped; at these tiny zooms the ring
        # covers the world, so it must equal brute exactly
        assert got == brute, f"zoom={zoom}"
