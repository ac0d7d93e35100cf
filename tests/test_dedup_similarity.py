"""Dedup + similarity: planted-duplicate recall, operator agreement."""

import pytest
from pyspark.sql import functions as F

from freemap_tiler_spark.operators import dedup, similarity
from oracles import srp_bucket

pytestmark = pytest.mark.spark


@pytest.fixture(scope="module")
def planted(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.unionByName(
        docs.where("doc_id % 10 = 0").withColumn("doc_id", F.col("doc_id") + 100000)
    ).cache()


def test_exact_dedup_finds_planted(planted):
    ed = dedup.exact_dedup(planted)
    assert ed.where("dup_count > 1").count() == 50
    # keep_id is always the original (lowest) id
    assert ed.where("dup_count > 1").where("keep_id >= 100000").count() == 0


def test_minhash_lsh_full_recall_on_exact_dups(planted):
    pairs = dedup.minhash_lsh_pairs(planted)
    ver = dedup.jaccard_verify(pairs, planted, threshold=0.99)
    found = {(r.id_a, r.id_b) for r in ver.collect()}
    expected = {(i, i + 100000) for i in range(0, 500, 10)}
    assert expected <= found  # identical docs MUST collide in every band


def test_simhash_identical_docs_distance_zero(planted):
    sd = dedup.simhash_near_dups(planted, max_hamming=0)
    found = {(r.id_a, r.id_b) for r in sd.collect()}
    expected = {(i, i + 100000) for i in range(0, 500, 10)}
    assert expected <= found


def test_jaccard_self_is_one(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    pairs = docs.select(F.col("doc_id").alias("id_a"), F.col("doc_id").alias("id_b"))
    ver = dedup.jaccard_verify(pairs, docs, threshold=0.0)
    assert ver.where("jaccard != 1.0").count() == 0


def test_brute_topk_rank1_is_self(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pr = emb.where("vec_id < 5").selectExpr("vec_id as probe_id", "embedding")
    bf = similarity.brute_force_topk(pr, emb, k=3)
    r1 = bf.where("rank = 1").collect()
    assert all(r.probe_id == r.vec_id for r in r1)  # self-similarity == 1


def _zero_and_random(spark, n_zero=20, n_rand=10, dim=8):
    """One partition: n_zero all-zero vectors (ids 0..) then n_rand random
    ones, so a single Arrow batch holds both."""
    import numpy as np

    rng = np.random.default_rng(3)
    rows = [(i, [0.0] * dim) for i in range(n_zero)] + [
        (n_zero + j, rng.normal(size=dim).astype("float32").tolist())
        for j in range(n_rand)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>").coalesce(1)


def test_zero_norm_cosine_is_null_and_ranks_last(spark):
    """A zero-norm vector's cosine is NULL (DuckDB's x / 0.0): it ranks
    after every real score and passes no threshold, in the GEMM kernel
    and in the Column cosine alike (which must not raise DIVIDE_BY_ZERO
    under ANSI mode)."""
    emb = _zero_and_random(spark)

    def probe(vec_id):
        return emb.where(F.col("vec_id") == vec_id).select(
            F.col("vec_id").alias("probe_id"), "embedding")

    def ranked(df):
        return [(r.vec_id, r.cos) for r in df.orderBy("rank").collect()]

    got = ranked(similarity.brute_force_topk(probe(25), emb, k=3))
    assert got[0][0] == 25 and abs(got[0][1] - 1.0) < 1e-6
    assert all(v >= 20 and c is not None for v, c in got)
    zero_probe = [(0, None), (1, None), (2, None)]  # all NULL: ties by id
    assert ranked(similarity.brute_force_topk(probe(0), emb, k=3)) == zero_probe
    ann = similarity.ann_topk(probe(0), emb, dim=8, k=3, n_planes=4, n_tables=2)
    assert ranked(ann) == zero_probe
    pairs = similarity.embedding_near_dups(
        emb, dim=8, threshold=-1.0, n_planes=4, n_tables=2).collect()
    assert pairs and all(r.id_a >= 20 for r in pairs)


def test_null_vector_cosine_is_null_and_ranks_last(spark):
    """A NULL embedding scores like a zero-norm one in brute_force_topk:
    a NULL probe gets NULL cosines (ties by corpus id), a NULL corpus
    vector ranks after every real score; the probe collect stays one job."""
    emb = _zero_and_random(spark).where(F.col("vec_id") >= 20).union(
        spark.createDataFrame([(5, None)], "vec_id long, embedding array<float>"))
    probes = emb.where(F.col("vec_id").isin(5, 25)).select(
        F.col("vec_id").alias("probe_id"), "embedding")
    sc = spark.sparkContext
    sc.setJobGroup("brute_null_collect", "probe collect")
    try:
        out = similarity.brute_force_topk(probes, emb, k=11)
        assert len(sc.statusTracker().getJobIdsForGroup("brute_null_collect")) == 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    got = {}
    for r in out.orderBy("probe_id", "rank").collect():
        got.setdefault(r.probe_id, []).append((r.vec_id, r.cos))
    assert got[5] == [(v, None) for v in [5] + list(range(20, 30))]
    assert got[25][0][0] == 25 and abs(got[25][0][1] - 1.0) < 1e-6
    assert all(c is not None for _, c in got[25][:10])
    assert got[25][10] == (5, None)


def test_brute_topk_probe_cap(spark, sf_dir, monkeypatch):
    """brute_force_topk collects its probes to the driver: past
    MAX_BRUTE_PROBES it raises and names the alternatives, and the guarded
    collect is still one Spark job."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # probes are not the first rows of their partition: the cap counts
    # probe rows, not the rows the probe filter dropped
    pr = emb.where("vec_id % 20 = 0 AND vec_id < 100").selectExpr(
        "vec_id as probe_id", "embedding")
    monkeypatch.setattr(similarity, "MAX_BRUTE_PROBES", 4)
    with pytest.raises(ValueError, match=r"at least 5 probe rows exceed its cap "
                                         r"of 4; use ann_topk or ivf_topk"):
        similarity.brute_force_topk(pr, emb, k=3)
    monkeypatch.setattr(similarity, "MAX_BRUTE_PROBES", 5)
    sc = spark.sparkContext
    sc.setJobGroup("brute_probe_collect", "probe collect")
    try:
        bf = similarity.brute_force_topk(pr, emb, k=3)
        assert len(sc.statusTracker().getJobIdsForGroup("brute_probe_collect")) == 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert bf.count() == 15


def test_ann_subset_quality(spark, sf_dir):
    """ANN results are genuine (cos matches brute values for same pairs)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pr = emb.where("vec_id < 5").selectExpr("vec_id as probe_id", "embedding")
    ann = similarity.ann_topk(pr, emb, dim=64, k=3, n_planes=6, n_tables=4)
    rows = ann.collect()
    assert len(rows) > 0
    assert all(r.probe_id != r.vec_id or abs(r.cos - 1.0) < 1e-6 for r in rows)


def test_lsh_hot_bucket_star_cap(spark):
    """A planted bucket of 2000 identical docs must NOT emit O(k^2) pairs:
    over-size buckets emit a star around the min id PLUS a signature-
    sorted chain (O(k) total; the chain keeps similar neighbors connected
    through a downstream Jaccard verify even if star edges fail)."""
    n = 2000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same exact duplicated web page text body").alias("text"),
    )
    pairs = dedup.minhash_lsh_pairs(docs, num_hashes=8, bands=4, max_bucket_size=64)
    rows = pairs.collect()
    star = {(r.id_a, r.id_b) for r in rows if r.id_a == 0}
    chain = {(r.id_a, r.id_b) for r in rows if r.id_a != 0}
    assert star == {(0, i) for i in range(1, n)}       # full star
    # identical sigs -> chain order falls back to _id: consecutive links
    assert chain == {(i, i + 1) for i in range(1, n - 1)}
    assert len(rows) == 2 * n - 3                       # O(k), not O(k^2)


def test_minhash_lsh_null_text(spark):
    """A NULL text shingles like the empty text (shingles() gives both
    [""]), so the two collide instead of failing the signature pass."""
    body = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [(1, body), (2, body), (3, None), (4, "")], "doc_id long, text string")
    sh = {r.doc_id: r.sh for r in
          docs.select("doc_id", dedup.shingles(F.col("text")).alias("sh")).collect()}
    assert sh[3] == sh[4] == [""]
    pairs = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(docs).collect()}
    assert pairs == {(1, 2), (3, 4)}


def test_minhash_lsh_string_ids(spark):
    """Candidate pairs keep the input's id type (string ids, not only long)."""
    body = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [("a", body), ("b", body), ("c", "an entirely different page about maps")],
        "doc_id string, text string")
    pairs = dedup.minhash_lsh_pairs(docs)
    assert pairs.schema["id_a"].dataType.simpleString() == "string"
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {("a", "b")}


def test_decode_and_resize_stub_raises():
    """The default decoder is the honest stub: no media codec is
    installed, so asking for a real decode fails loudly."""
    from freemap_tiler_spark.operators import multimodal as M

    with pytest.raises(M.DecoderStub):
        M.decode_and_resize(None, decode="stub")


def test_ivf_topk_recall_and_shape(spark):
    """IVF variant: candidates come only from nprobe cells (never
    all-pairs) and recall clears the documented floor."""
    import numpy as np

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pr = e.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    ivf = similarity.ivf_topk(pr, e, dim=64, k=5, n_centroids=16, nprobe=6)
    brute = similarity.brute_force_topk(pr, e, k=5)
    a = {(r.probe_id, r.vec_id) for r in ivf.collect()}
    b = {(r.probe_id, r.vec_id) for r in brute.collect()}
    assert len(a & b) / len(b) >= 0.6
    # deterministic across runs
    a2 = {(r.probe_id, r.vec_id) for r in similarity.ivf_topk(
        pr, e, dim=64, k=5, n_centroids=16, nprobe=6).collect()}
    assert a == a2


def test_srp_gemm_matches_column_path(spark, sf_dir):
    """srp_bucket_rows (one Arrow GEMM) produces bit-identical (tbl, bkt)
    rows to the Column-expression oracle srp_bucket for every vector — same md5
    hyperplanes, float64 accumulation — including multiprobe flips."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)
    n_planes, n_tables, mp = 6, 3, 1
    kernel = similarity.srp_bucket_rows(
        emb, "vec_id", "embedding", 64, n_planes, n_tables, mp
    )
    got = {(r.vec_id, r.tbl, r.bkt) for r in kernel.collect()}
    entries = []
    flips = similarity._bit_flips(n_planes, mp)
    for t in range(n_tables):
        base = srp_bucket(F.col("embedding"), 64, n_planes, t)
        for m in flips:
            bkt = base.bitwiseXOR(F.lit(m)) if m else base
            entries.append(F.struct(F.lit(t).alias("tbl"), bkt.alias("bkt")))
    ref = emb.select("vec_id", F.explode(F.array(*entries)).alias("b")).select(
        "vec_id", "b.tbl", "b.bkt"
    )
    exp = {(r.vec_id, r.tbl, r.bkt) for r in ref.collect()}
    assert got == exp


def test_srp_768dim_plan_and_throughput(spark):
    """The 100-TB plan-width check (VERDICT r2 #2): 768-dim bucketing over
    8 tables x 10 planes must neither blow up the Catalyst plan (O(1)
    literals — the Column form would carry ~250k) nor crawl.  5e4 vectors
    bucket + aggregate in well under a minute."""
    import time

    from pyspark.sql.types import ArrayType, FloatType, StructField, StructType

    n, dim = 50_000, 768

    def gen(it):
        import numpy as np
        import pandas as pd

        for pdf in it:
            rng = np.random.default_rng(int(pdf["id"].iloc[0]))
            v = rng.standard_normal((len(pdf), dim)).astype(np.float32)
            yield pd.DataFrame({"vec_id": pdf["id"], "embedding": list(v)})

    emb = spark.range(n, numPartitions=16).mapInPandas(
        gen,
        StructType([
            StructField("vec_id", spark.range(1).schema[0].dataType),
            StructField("embedding", ArrayType(FloatType())),
        ]),
    )
    rows = similarity.srp_bucket_rows(emb, "vec_id", "embedding", dim, 10, 8)
    plan = rows._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan) < 20_000, f"plan string {len(plan)} chars — literal blow-up?"
    t0 = time.time()
    cnt = rows.groupBy("tbl").agg(F.countDistinct("bkt").alias("nb")).collect()
    wall = time.time() - t0
    assert {r.tbl for r in cnt} == set(range(8))
    assert all(r.nb > 500 for r in cnt)  # 2^10 buckets, well-spread signs
    # degradation-aware budget (a fixed numpy probe calibrates this host's
    # speed): under the observed hypervisor episodes the single-core calibration runs
    # ~3x its ~90-120 ms clean floor and this wall bound scales with it,
    # so a contended host doesn't fail a throughput property the clean
    # host comfortably meets (observed: 77 s when run concurrently with
    # a full contract check at calib ~300 ms; ~13-25 s clean)
    import numpy as np

    a = np.random.RandomState(0).rand(400, 400)
    t0 = time.time()
    for _ in range(30):
        a = np.tanh(a @ a.T / 400.0)
    calib_ms = (time.time() - t0) * 1000
    budget = 60.0 * max(1.0, calib_ms / 120.0)
    assert wall < budget, (
        f"768-dim bucketing took {wall:.1f}s (budget {budget:.0f}s "
        f"at calib {calib_ms:.0f}ms)"
    )


def _total_shuffle_write(spark) -> int:
    """Bytes shuffle-written so far, from the AppStatusStore (works with
    spark.ui.enabled=false; local mode = one executor row)."""
    el = spark.sparkContext._jsc.sc().statusStore().executorList(False)
    return sum(el.apply(i).totalShuffleWrite() for i in range(el.size()))


def _vector_bucket_rows(df, id_col, out_vec, dim, n_planes, n_tables):
    """The r3 SRP kernel: (id, vector, tbl, bkt) bucket rows that carry the
    raw vector, same hyperplanes as ``similarity.srp_bucket_rows``."""
    vec_t = df.schema["embedding"].dataType.simpleString()
    id_t = df.schema[id_col].dataType.simpleString()

    def _gen(batches):
        import numpy as np
        import pandas as pd

        plane = similarity._plane_matrix(n_tables, n_planes, dim)
        pw = 1 << np.arange(n_planes, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.asarray([np.asarray(e, np.float64) for e in pdf["embedding"]])
            bits = (v @ plane >= 0).reshape(len(pdf), n_tables, n_planes)
            yield pd.DataFrame({
                id_col: pdf[id_col].to_numpy().repeat(n_tables),
                out_vec: pdf["embedding"].to_numpy().repeat(n_tables),
                "tbl": np.tile(np.arange(n_tables, dtype=np.int32), len(pdf)),
                "bkt": (bits * pw).sum(axis=2).reshape(-1),
            })

    return df.select(id_col, "embedding").mapInPandas(
        _gen, f"{id_col} {id_t}, {out_vec} {vec_t}, tbl int, bkt long")


def test_srp_id_only_candidate_join_shuffle(spark):
    """VERDICT r3 'Next round' #3 done-criterion: at 768-dim the id-only
    SRP bucket join (production ann_topk) must move >=4x fewer shuffle
    bytes than the r3 vector-carrying bucket rows, with an identical
    result set."""
    import numpy as np
    from pyspark.sql import Window
    from pyspark.sql.types import ArrayType, FloatType, StructField, StructType

    n, dim, n_planes, n_tables = 20_000, 768, 10, 4
    id_t = spark.range(1).schema[0].dataType

    def gen(it):
        import pandas as pd

        for pdf in it:
            rng = np.random.default_rng(int(pdf["id"].iloc[0]) + 7)
            v = rng.standard_normal((len(pdf), dim)).astype(np.float32)
            yield pd.DataFrame({"vec_id": pdf["id"], "embedding": list(v)})

    sch = StructType([StructField("vec_id", id_t),
                      StructField("embedding", ArrayType(FloatType()))])
    corpus = spark.range(n, numPartitions=8).mapInPandas(gen, sch).persist()
    corpus.count()
    probes = corpus.where("vec_id % 100 = 0").select(
        F.col("vec_id").alias("probe_id"), "embedding").persist()
    probes.count()

    s0 = _total_shuffle_write(spark)
    new_rows = similarity.ann_topk(
        probes, corpus, dim=dim, k=5, n_planes=n_planes, n_tables=n_tables,
        multiprobe=0)
    new_set = {(r.probe_id, r.vec_id, r.rank) for r in new_rows.collect()}
    bytes_new = _total_shuffle_write(spark) - s0

    # the r3 shape: bucket rows repeat the raw vector into the equi-join
    pr = _vector_bucket_rows(probes, "probe_id", "_pv", dim, n_planes, n_tables)
    co = _vector_bucket_rows(corpus, "vec_id", "_cv", dim, n_planes, n_tables)
    s1 = _total_shuffle_write(spark)
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), "vec_id")
    old_rows = (
        pr.join(co, ["tbl", "bkt"])
        .select("probe_id", "vec_id", "_pv", "_cv")
        .dropDuplicates(["probe_id", "vec_id"])
        .withColumn("cos", similarity.cosine("_pv", "_cv"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
    )
    old_set = {(r.probe_id, r.vec_id, r.rank) for r in old_rows.collect()}
    bytes_old = _total_shuffle_write(spark) - s1
    corpus.unpersist()
    probes.unpersist()

    assert new_set == old_set
    assert bytes_old >= 4 * max(bytes_new, 1), (
        f"id-only join should cut shuffle >=4x: old={bytes_old} new={bytes_new}")


def test_connected_components_vs_union_find(spark):
    """Alternating star CC must match a driver-side union-find on random
    graphs (chains, triangles, singletons, hubs), with deterministic
    min-id component labels."""
    import random

    def uf_components(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in parent}

    for seed in (0, 1, 2):
        r = random.Random(seed)
        n = 60
        edges = [(r.randrange(n), r.randrange(n)) for _ in range(40)]
        edges = [(a, b) for a, b in edges if a != b]
        exp = uf_components(edges)
        # canonical min-label per component
        roots = {}
        for node, root in exp.items():
            roots.setdefault(root, []).append(node)
        want = {}
        for members in roots.values():
            m = min(members)
            for x in members:
                want[x] = m
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = dict(
            (r_.node, r_.component)
            for r_ in dedup.connected_components(df).collect()
        )
        assert got == want, f"seed {seed}: {got} != {want}"


def test_ivfpq_topk_recall_and_determinism(spark, sf_dir):
    """IVF-PQ: ADC scoring over m-byte codes + exact short-list re-rank
    must hit the same per-probe recall floor as plain IVF, produce
    deterministic codes across runs, and never plan a cartesian join."""
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    pr = e.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("probe_id"), "embedding")

    books = similarity.pq_train_codebooks(e, dim=64, m=8, ks=16)
    c1 = {r.vec_id: tuple(r.codes) for r in similarity.pq_encode(e, books).collect()}
    c2 = {r.vec_id: tuple(r.codes) for r in similarity.pq_encode(e, books).collect()}
    assert c1 == c2 and len(c1) == e.count()
    assert all(len(v) == 8 and max(v) < 16 for v in c1.values())

    pq = similarity.ivfpq_topk(pr, e, dim=64, k=5, m=8, ks=16,
                               n_centroids=16, nprobe=10, rerank=160)
    plan = pq._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    got = {}
    for r in pq.collect():
        got.setdefault(r.probe_id, set()).add(r.vec_id)
    exact = {}
    for r in similarity.brute_force_topk(pr, e, k=5).collect():
        exact.setdefault(r.probe_id, set()).add(r.vec_id)
    assert set(got) == set(exact)
    for p in exact:
        assert len(got[p] & exact[p]) >= 2, f"probe {p} recall floor"
    # IVFADC (residual PQ, VERDICT r4 #6): aggregate recall@5 must clear
    # 0.90 at the same m/ks budget (measured 0.92 at nprobe=10/rerank=160
    # on this sf's adversarially uniform embeddings; whole-vector PQ sat
    # at 0.72-0.76 here regardless of nprobe/rerank)
    hits = sum(len(got[p] & exact[p]) for p in exact)
    total = sum(len(exact[p]) for p in exact)
    assert hits / total >= 0.90, f"IVFADC recall@5 {hits/total:.2f} < 0.90"


def test_opq_rotation_reduces_quantization_error(spark):
    """OPQ (Ge et al. CVPR'13): on ANISOTROPIC embeddings whose energy is
    concentrated in a few non-axis-aligned directions — the realistic
    text-encoder shape, where a fixed axis split wastes codebook entries —
    the learned orthonormal rotation must cut PQ reconstruction error by
    >= 15% vs plain PQ at the same m/ks budget, stay orthonormal, and be
    bit-deterministic across calls."""
    import numpy as np
    from pyspark.sql.types import (
        ArrayType, FloatType, LongType, StructField, StructType)

    n, dim, m, ks = 512, 32, 4, 16
    rng = np.random.RandomState(1234)
    spec = 1.0 / np.sqrt(1 + np.arange(dim))        # decaying spectrum
    Q, _ = np.linalg.qr(rng.randn(dim, dim))        # random basis: not axis aligned
    v = (rng.randn(n, dim) * spec) @ Q.T
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    rows = [(i, v[i].astype("float32").tolist()) for i in range(n)]
    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ])
    df = spark.createDataFrame(rows, schema)

    books = similarity.pq_train_codebooks(df, dim=dim, m=m, ks=ks)
    R, obooks = similarity.opq_train(df, dim=dim, m=m, ks=ks)
    assert np.allclose(R @ R.T, np.eye(dim), atol=1e-8)

    s = similarity._pq_sample_residuals(df, "vec_id", "embedding", None)

    def mse(x, b):
        return float(((x - similarity._pq_reconstruct(x, b)) ** 2)
                     .sum(axis=1).mean())

    e_pq, e_opq = mse(s, books), mse(s @ R, obooks)
    assert e_opq < 0.85 * e_pq, f"OPQ {e_opq:.4f} vs PQ {e_pq:.4f}"

    R2, obooks2 = similarity.opq_train(df, dim=dim, m=m, ks=ks)
    assert np.array_equal(R, R2) and np.array_equal(obooks, obooks2)

    # end-to-end: the opq=True IVFADC path must keep the recall floor on
    # this anisotropic corpus (probes = every 50th vector)
    pr = df.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("probe_id"), "embedding")
    got = {}
    for r in similarity.ivfpq_topk(pr, df, dim=dim, k=5, m=m, ks=ks,
                                   n_centroids=8, nprobe=6, rerank=96,
                                   opq=True).collect():
        got.setdefault(r.probe_id, set()).add(r.vec_id)
    exact = {}
    for r in similarity.brute_force_topk(pr, df, k=5).collect():
        exact.setdefault(r.probe_id, set()).add(r.vec_id)
    assert set(got) == set(exact)
    hits = sum(len(got[p] & exact[p]) for p in exact)
    total = sum(len(exact[p]) for p in exact)
    assert hits / total >= 0.90, f"OPQ IVFADC recall@5 {hits/total:.2f}"


def test_embedding_hot_bucket_star_cap(spark):
    """VERDICT r4 #2: a planted flood of 1000 identical embeddings lands in
    ONE SRP bucket per table; the hot-bucket cap must emit O(k) pairs (star
    + chain), not k^2/2, and the pairs must still connect one component."""
    import numpy as np
    from pyspark.sql.types import ArrayType, FloatType, LongType, StructField, StructType

    n, dim = 1000, 16
    rng = np.random.default_rng(7)
    v = rng.normal(size=dim)
    v = (v / np.linalg.norm(v)).astype("float32").tolist()
    rows = [(i, v) for i in range(n)]
    schema = StructType([
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ])
    emb = spark.createDataFrame(rows, schema)
    pairs = similarity.embedding_near_dups(
        emb, dim=dim, threshold=0.99, n_planes=6, n_tables=4,
        multiprobe=0, max_bucket_size=64,
    )
    got = pairs.select("id_a", "id_b").collect()
    # O(k): per table one star (n-1) + one chain (n-2), deduped across the
    # 4 tables (identical membership -> identical pairs) = 2n-3 total
    assert len(got) == 2 * n - 3
    star = {(r.id_a, r.id_b) for r in got if r.id_a == 0}
    assert star == {(0, i) for i in range(1, n)}
    # still one component through the dedup cluster step
    comp = dedup.connected_components(pairs.select("id_a", "id_b"))
    assert comp.select("component").distinct().count() == 1
    assert comp.count() == n


def test_duplicate_spans_planted_substring(spark):
    """Substring-level dedup (Lee et al. 2022): a 12-token boilerplate
    pasted into the middle of otherwise-unique docs must surface as one
    maximal span per doc covering exactly the pasted tokens; unique docs
    emit no spans."""
    n = 8
    boiler = " ".join(f"b{j}" for j in range(12))  # 12 shared tokens
    docs = []
    for i in range(6):
        uniq_a = " ".join(f"u{i}x{j}" for j in range(10))
        uniq_b = " ".join(f"u{i}y{j}" for j in range(10))
        docs.append((i, f"{uniq_a} {boiler} {uniq_b}"))
    # two fully-unique docs: no duplicated windows at all
    docs.append((100, " ".join(f"solo{j}" for j in range(40))))
    docs.append((101, " ".join(f"alone{j}" for j in range(40))))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    out = dedup.duplicate_spans(df, n=n).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(range(6))  # solo docs clean
    for i in range(6):
        spans = by_doc[i]
        assert len(spans) == 1  # one maximal span, not fragments
        s = spans[0]
        # boilerplate occupies tokens [10, 22); windows of 8 duplicated
        # corpus-wide start at 10..14 -> span [10, 22), 5 windows, occ 6
        assert (s.tok_start, s.tok_end, s.n_windows, s.max_occ) == (10, 22, 5, 6)


def test_duplicate_spans_merges_touching_islands(spark):
    """Duplicated windows at positions p, p+n produce TOUCHING spans
    ([p,p+n) + [p+n,p+2n)) and must merge into one; one extra token of
    separation (p, p+n+1) keeps them apart."""
    n = 8
    X = " ".join(f"x{j}" for j in range(n))
    Y = " ".join(f"y{j}" for j in range(n))
    docs = [
        # A: X immediately followed by Y -> dup windows at 0 (via B) and
        # n (via C); boundary windows exist only here, so not duplicated
        (0, f"{X} {Y}"),
        # A2: X, one unique token, Y -> dup windows at 0 and n+1
        (1, f"{X} gap {Y}"),
        # B/C donate the duplicate occurrences of X and Y respectively
        (2, f"{X} " + " ".join(f"btail{j}" for j in range(n))),
        (3, " ".join(f"chead{j}" for j in range(n)) + f" {Y}"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = dedup.duplicate_spans(df, n=n).collect()
    a_spans = sorted((r.tok_start, r.tok_end) for r in out if r.doc_id == 0)
    assert a_spans == [(0, 2 * n)]  # touching spans merged
    a2_spans = sorted((r.tok_start, r.tok_end) for r in out if r.doc_id == 1)
    assert a2_spans == [(0, n), (n + 1, 2 * n + 1)]  # one-token gap splits


def test_scrub_spans_keeps_one_canonical_occurrence(spark):
    """ExactSubstr removal: the canonical (lowest doc_id, pos) occurrence
    of a duplicated span survives; every other occurrence is cut; casing
    is preserved; unique docs pass through untouched."""
    n = 8
    boiler = " ".join(f"B{j}" for j in range(12))  # uppercase: casing check
    docs = []
    for i in range(4):
        ua = " ".join(f"u{i}x{j}" for j in range(10))
        ub = " ".join(f"u{i}y{j}" for j in range(10))
        docs.append((i, f"{ua} {boiler} {ub}"))
    docs.append((9, " ".join(f"solo{j}" for j in range(15))))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.scrub_spans(df, n=n).collect()}
    assert set(out) == {0, 1, 2, 3, 9}
    # doc 0 holds the canonical windows -> untouched, casing intact
    assert out[0].n_removed == 0 and f" {boiler} " in f" {out[0].clean_text} "
    for i in (1, 2, 3):
        assert out[i].n_removed == 12 and out[i].n_tokens == 20
        assert "B0" not in out[i].clean_text
        assert f"u{i}x9 u{i}y0" in out[i].clean_text  # splice is seamless
    assert out[9].n_removed == 0 and out[9].n_tokens == 15


def test_scrub_spans_identical_docs_full_scrub(spark):
    """Two byte-identical docs: the lower doc_id keeps everything, the
    clone is scrubbed to the empty string."""
    text = " ".join(f"w{j}" for j in range(20))
    df = spark.createDataFrame([(1, text), (2, text)], "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.scrub_spans(df, n=8).collect()}
    assert out[1].n_removed == 0 and out[1].n_tokens == 20
    assert out[2].clean_text == "" and out[2].n_tokens == 0 and out[2].n_removed == 20


def _span_corpus(spark):
    boiler = " ".join(f"B{j}" for j in range(12))
    rows = []
    for i in range(6):  # shared boilerplate block
        ua = " ".join(f"the quick u{i}x{j} and of to in" for j in range(4))
        rows.append((i, f"{ua} {boiler}"))
    rows.append((100, rows[0][1]))  # exact clone of doc 0
    rows.append((201, "tiny doc"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _scrub(df):
    return dedup.scrub_spans(df, n=8).select(
        "doc_id", F.col("clean_text").alias("text"))


def test_scrub_spans_reaches_substring_fixpoint(spark):
    """After keep-one span scrubbing, duplicate_spans on the scrubbed
    corpus finds nothing: every duplicated n-token window survived exactly
    once."""
    clean = _scrub(_span_corpus(spark))
    assert dedup.duplicate_spans(clean, n=8).count() == 0


def test_scrub_spans_partitioning_invariant(spark):
    """The scrub is identical across input partitionings."""
    df = _span_corpus(spark).repartition(7)
    a = {tuple(r) for r in _scrub(df).collect()}
    b = {tuple(r) for r in _scrub(df.repartition(3)).collect()}
    assert a == b


def test_contamination_planted_overlap(spark):
    """13-gram contamination: a train doc embedding a test doc verbatim is
    flagged with the exact window-overlap fraction; clean docs are 0."""
    n = 13
    test_text = " ".join(f"eval{j}" for j in range(20))  # 20 tokens -> 8 windows
    train = spark.createDataFrame(
        [
            (0, test_text),                                        # exact clone
            (1, " ".join(f"pre{j}" for j in range(10)) + " " + test_text),
            (2, " ".join(f"clean{j}" for j in range(30))),
            (3, "short doc"),                                      # < n tokens
        ],
        "doc_id long, text string",
    )
    test = spark.createDataFrame([(100, test_text)], "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.contamination(train, test, n=n).collect()}
    assert out[0].n_windows == 8 and out[0].n_hits == 8 and out[0].frac == 1.0
    # doc 1: 30 tokens -> 18 windows; windows fully inside the pasted test
    # text start at positions 10..17 -> 8 hits
    assert out[1].n_windows == 18 and out[1].n_hits == 8
    assert out[1].frac == pytest.approx(8 / 18)
    assert out[2].n_hits == 0 and out[2].frac == 0.0
    assert out[3].n_windows == 0 and out[3].frac == 0.0


def _brute_spans(docs, n):
    """Pure-python reference for duplicate_spans: count n-token windows
    corpus-wide, merge per-doc duplicated positions into maximal spans."""
    from collections import Counter

    toks = {d: t.strip().lower().split() for d, t in docs}
    wins = {
        d: [tuple(t[i:i + n]) for i in range(len(t) - n + 1)] if len(t) >= n else []
        for d, t in toks.items()
    }
    occ = Counter(w for ws in wins.values() for w in ws)
    out = {}
    for d, ws in wins.items():
        pos = [i for i, w in enumerate(ws) if occ[w] >= 2]
        spans = []
        for p in pos:
            if spans and p - spans[-1][1] <= n:
                spans[-1][1] = p
            else:
                spans.append([p, p])
        out[d] = [
            (a, b + n, sum(1 for p in pos if a <= p <= b),
             max(occ[ws[p]] for p in pos if a <= p <= b))
            for a, b in spans
        ]
    return out


def test_duplicate_spans_randomized_vs_brute(spark):
    """Seeded random corpora with a tiny vocabulary (forcing organic
    n-gram collisions) agree exactly with a pure-python oracle."""
    import random

    n = 4
    for seed in (1, 7, 23):
        rng = random.Random(seed)
        vocab = [f"w{k}" for k in range(12)]  # tiny vocab -> real collisions
        docs = [
            (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(2, 40))))
            for d in range(25)
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {}
        for r in dedup.duplicate_spans(df, n=n).collect():
            got.setdefault(r.doc_id, []).append(
                (r.tok_start, r.tok_end, r.n_windows, r.max_occ)
            )
        exp = {d: v for d, v in _brute_spans(docs, n).items() if v}
        got = {d: sorted(v) for d, v in got.items()}
        exp = {d: sorted(v) for d, v in exp.items()}
        assert got == exp, f"seed {seed} diverged"
