"""Sequence packing: exact mapping, conservation invariants, scale-path
equivalence (two-level cumsum == naive order)."""

import pytest
from pyspark.sql import functions as F

from freemap_tiler_spark.operators import packing

pytestmark = pytest.mark.spark


def _mkdocs(spark, sizes, start_id=0):
    rows = [
        (start_id + i, " ".join(f"t{start_id + i}x{j}" for j in range(n)))
        for i, n in enumerate(sizes)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pack_map_exact_layout(spark):
    """Stream 5,3,7,2,6 at L=8: doc 3 splits across the seq-1/2 boundary."""
    df = _mkdocs(spark, [5, 3, 7, 2, 6])
    got = [
        (r.seq_id, r.doc_id, r.doc_tok_start, r.doc_tok_end, r.seq_tok_start)
        for r in packing.pack_map(df, 8).orderBy("seq_id", "doc_id").collect()
    ]
    assert got == [
        (0, 0, 0, 5, 0),
        (0, 1, 0, 3, 5),
        (1, 2, 0, 7, 0),
        (1, 3, 0, 1, 7),
        (2, 3, 1, 2, 0),
        (2, 4, 0, 6, 1),
    ]
    summ = {r.seq_id: r for r in packing.pack_summary(df, 8).collect()}
    assert (summ[0].n_tokens, summ[1].n_tokens, summ[2].n_tokens) == (8, 8, 7)
    assert summ[2].n_pad == 1 and summ[0].n_pad == 0


def test_pack_conservation_and_fill(spark):
    """Every token lands exactly once; every sequence but the last is
    exactly full; zero-token docs vanish."""
    sizes = [17, 1, 0, 230, 5, 64, 3, 999, 2, 40] * 20
    df = _mkdocs(spark, sizes)
    L = 128
    m = packing.pack_map(df, L)
    total = sum(s for s in sizes)
    assert m.agg(F.sum(F.col("doc_tok_end") - F.col("doc_tok_start"))).first()[0] == total
    # per-doc coverage: contiguous, non-overlapping, covers [0, n)
    per_doc = (
        m.groupBy("doc_id")
        .agg(F.min("doc_tok_start").alias("lo"),
             F.max("doc_tok_end").alias("hi"),
             F.sum(F.col("doc_tok_end") - F.col("doc_tok_start")).alias("tot"))
        .collect()
    )
    by_id = {i: n for i, n in enumerate(sizes)}
    for r in per_doc:
        assert r.lo == 0 and r.hi == by_id[r.doc_id] and r.tot == by_id[r.doc_id]
    assert 2 not in {r.doc_id for r in per_doc}  # the 0-token doc
    s = packing.pack_summary(df, L).orderBy("seq_id").collect()
    assert all(r.n_tokens == L for r in s[:-1])
    assert s[-1].n_tokens == total - L * (len(s) - 1)
    assert [r.seq_id for r in s] == list(range(len(s)))


def test_pack_bucketed_cumsum_matches_any_bucket_size(spark, monkeypatch):
    """The scale path (bucketed two-level offset) is invariant to
    BUCKET_SIZE and input partitioning — same map rows regardless."""
    sizes = [7, 19, 3, 101, 55, 1, 42, 88, 13, 60, 2, 9]
    df = _mkdocs(spark, sizes)
    ref = {tuple(r) for r in packing.pack_map(df, 32).collect()}
    for bs in (1, 3, 5):
        monkeypatch.setattr(packing, "BUCKET_SIZE", bs)
        got = {tuple(r) for r in packing.pack_map(df.repartition(7), 32).collect()}
        assert got == ref, f"BUCKET_SIZE={bs} diverged"


def test_pack_sparse_noncontiguous_ids(spark):
    """Doc ids with huge gaps (sparse buckets) still pack the stream in
    id order with no holes."""
    rows = [
        (5, "a b c"),
        (4096 * 10 + 1, "d e f g"),
        (4096 * 99 + 7, "h i"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    s = packing.pack_summary(df, 4).orderBy("seq_id").collect()
    assert [(r.seq_id, r.n_tokens) for r in s] == [(0, 4), (1, 4), (2, 1)]


def test_pack_rejects_non_numeric_ids(spark):
    """String ids would silently NULL every bucket; the operator must
    fail loudly instead of returning an empty pack."""
    df = spark.createDataFrame(
        [("urlhash-a", "x y z"), ("urlhash-b", "p q r")],
        "doc_id string, text string",
    )
    with pytest.raises(TypeError, match="numeric id"):
        packing.pack_map(df, 8)
