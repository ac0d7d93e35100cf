"""Deduplication operators for the web-text corpus.

First-class training-data-pipeline components (no reference counterpart;
the engine-side requirement comes from the 100 TB web-corpus use case):

- exact dedup          — md5 fingerprint groupBy
- word-shingle MinHash — signature + banded LSH candidate pairs + exact
                         Jaccard verify
- SimHash              — 32-bit sign-of-sum over token hashes, near-dup by
                         small Hamming distance
- n-gram Jaccard       — exact pairwise Jaccard on candidate pairs

Design constraint: every hash is built from ``md5`` (identical in Spark and
DuckDB) + modular arithmetic, so the DuckDB oracle can recompute signatures
bit-for-bit — dedup correctness is checked end-to-end, not rows-only.

Scale notes: exact dedup is one shuffle on a 60-bit key.  MinHash-LSH is
the standard shape: one Arrow signature pass per doc (narrow), explode
bands (narrow), self-join on band bucket (one shuffle on a
well-distributed 60-bit bucket key; hot buckets switch to O(k) pairs),
exact verify on the (small) candidate set.  No all-pairs product ever
materializes.  Intermediate tables (signatures,
bucket sizes, connected-components rounds) are checkpointed: reliably
when the session has a checkpoint dir, locally otherwise.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from freemap_tiler_spark.functions.text import md5_fingerprint

# modulus/coefficients for the minhash family h_i(x) = (a_i * x + b_i) mod P
P = 2147483647  # 2^31 - 1 (Mersenne prime): products fit in int64
A = [1103515245, 1299709, 15485863, 32452843, 49979687, 67867967, 86028121, 104395301]
B = [12345, 7919, 104729, 1299721, 15485917, 32452867, 49979693, 67867979]
SHINGLE_N = 3  # tokens per word shingle (MinHash and Jaccard)
# connected_components stops after this many rounds even if not converged
MAX_CC_ROUNDS = 25


def _checkpoint(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now and cut its lineage.  With a checkpoint dir
    set on the session (``spark.checkpoint.dir`` or
    ``sparkContext.setCheckpointDir``) the rows go there and survive the
    loss of an executor; without one they stay in executor storage
    (``localCheckpoint``)."""
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def token_hash(col) -> Column:
    """60-bit md5-based token hash (engine/oracle-identical)."""
    return md5_fingerprint(col)


def shingles(text_col) -> Column:
    """Word n-gram shingles (n = ``SHINGLE_N``): array of space-joined
    n-token windows.

    Pure Column math: split -> transform over a sequence of offsets.
    Documents shorter than n tokens produce a single shingle of all tokens.
    """
    n = SHINGLE_N
    toks = F.split(F.trim(F.lower(text_col)), r"\s+")

    def grams(t):
        m = F.size(t)
        idx = F.sequence(F.lit(0), F.greatest(m - n, F.lit(0)))
        return F.when(m >= n, F.transform(
            idx, lambda i: F.concat_ws(" ", *[F.element_at(t, (i + j + 1).cast("int")) for j in range(n)])
        )).otherwise(F.array(F.concat_ws(" ", t)))

    # bind the tokens once, as the lambda variable of a one-element
    # transform: higher-order functions run interpreted, so a split inside
    # the per-shingle lambda re-split the text n times per shingle
    return F.element_at(F.transform(F.array(toks), grams), 1)


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id representative per identical text.
    Returns (fingerprint, keep_id, dup_count)."""
    return (
        df.select(md5_fingerprint(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("dup_count"))
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
) -> DataFrame:
    """(id_col, h0 .. h{num_hashes-1}) MinHash signatures in ONE Arrow
    pass: per hash i, the min over the document's ``SHINGLE_N``-word shingles of
    (A[i] * (md5_60(shingle) mod P) + B[i]) mod P.

    Tokenization (lower + trim + whitespace split) stays in the JVM, so it
    is bit-identical to ``shingles()`` and the DuckDB twin; Python only
    rejoins token windows and md5s them (both engines hash the same UTF-8
    bytes) and the permutation arithmetic stays in int64 range.  A Column
    form of the same law (transform/array_min) evaluates interpreted,
    since higher-order functions are CodegenFallback: measured 2.3 s per
    pass at bench scale against one Arrow pass."""
    import numpy as np
    import pandas as pd

    a_coef, b_coef = A[:num_hashes], B[:num_hashes]
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    id_type = df.schema[id_col].dataType.simpleString()
    schema = f"`{id_col}` {id_type}, " + ", ".join(
        f"h{i} long" for i in range(num_hashes)
    )

    def _signatures(batches):
        import hashlib

        aa = np.asarray(a_coef, dtype=np.int64)[None, :]
        bb = np.asarray(b_coef, dtype=np.int64)[None, :]
        for pdf in batches:
            H = np.empty((len(pdf), num_hashes), dtype=np.int64)
            for i, tk in enumerate(pdf["_toks"]):
                # NULL text has NULL tokens: shingle it like the empty
                # token list, as shingles() does
                tk = [] if tk is None else list(tk)
                if len(tk) >= SHINGLE_N:
                    sh = [" ".join(tk[j:j + SHINGLE_N])
                          for j in range(len(tk) - SHINGLE_N + 1)]
                else:
                    sh = [" ".join(tk)]
                hs = np.fromiter(
                    (int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16) % P
                     for s in sh),
                    dtype=np.int64, count=len(sh),
                )[:, None]
                H[i] = ((aa * hs + bb) % P).min(axis=0)
            out = {id_col: pdf[id_col]}
            out.update({f"h{i}": H[:, i] for i in range(num_hashes)})
            yield pd.DataFrame(out)

    return df.select(F.col(id_col), toks.alias("_toks")).mapInPandas(
        _signatures, schema
    )


def _lsh_pairs(rows: DataFrame, max_bucket_size: int, chain_key, flips=(0,)) -> DataFrame:
    """Candidate pairs (id_a < id_b, distinct) of ids that share an LSH
    bucket, from ``(_id, tbl, bkt)`` rows: one per id and table (a MinHash
    band, an SRP table).

    Bucket size and representative (min id) come from ONE window pass,
    materialized through ``_checkpoint``: the small self-join, the star and
    the chain all read it, and its (tbl, bkt) hash partitioning makes the
    small self-join exchange-free.

    ``flips`` are XOR masks (0 first) applied to the LEFT side's bucket
    ids: multiprobe visits buckets at small Hamming distance, costing left
    rows only.

    Hot-bucket guard: a degenerate bucket of k near-identical ids would
    emit k^2/2 pairs from ONE task (AQE splits the shuffle, not the
    quadratic pair count).  Buckets larger than ``max_bucket_size`` switch
    to O(k) pairs: a star around the bucket's min id PLUS a chain linking
    members consecutively in ``_key`` order.  ``chain_key(big, rows)``
    maps the over-size members' ``(_id, tbl, bkt)`` rows (and all bucket
    rows) to the same rows with a sortable ``_key``: the full signature,
    so members that agree on more of it sort adjacently.  The star keeps
    the bucket one connected component; the chain matters when a mixed
    over-size bucket (a collision, not true dups) meets a downstream
    verify: star-only edges to a dissimilar representative could all fail
    it and disconnect members whose true near-dup pairs were never
    emitted, while signature-sorted neighbors are the most similar
    available pairs and survive.  Documented approximation: the other
    pairs of an over-size bucket, and flipped left rows landing in one,
    are not emitted."""
    w = Window.partitionBy("tbl", "bkt")
    tagged = _checkpoint(rows.select(
        "_id", "tbl", "bkt",
        F.count("*").over(w).alias("_n"),
        F.min("_id").over(w).alias("_rep"),
    ))
    small = tagged.where(F.col("_n") <= max_bucket_size).select("_id", "tbl", "bkt")
    left = small
    if len(flips) > 1:
        left = tagged.select("_id", "tbl", F.explode(F.array(*[
            F.col("bkt").bitwiseXOR(F.lit(m)) for m in flips
        ])).alias("bkt"))
    l, r = left.alias("l"), small.alias("r")
    pairs_small = l.join(
        r,
        (F.col("l.tbl") == F.col("r.tbl")) & (F.col("l.bkt") == F.col("r.bkt"))
        & (F.col("l._id") < F.col("r._id")),
    ).select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
    # star: _rep is the bucket's min id, so the pair is already ordered
    pairs_star = tagged.where(
        (F.col("_n") > max_bucket_size) & (F.col("_id") != F.col("_rep"))
    ).select(F.col("_rep").alias("id_a"), F.col("_id").alias("id_b"))
    big = tagged.where(F.col("_n") > max_bucket_size).select("_id", "tbl", "bkt")
    wchain = Window.partitionBy("tbl", "bkt").orderBy("_key", "_id")
    chained = chain_key(big, tagged.select("_id", "tbl", "bkt")).withColumn(
        "_prev", F.lag("_id").over(wchain)
    ).where(F.col("_prev").isNotNull())
    pairs_chain = chained.select(
        F.least("_prev", "_id").alias("id_a"), F.greatest("_prev", "_id").alias("id_b")
    )
    return pairs_small.unionByName(pairs_star).unionByName(pairs_chain).distinct()


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket_size: int = 64,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing >=1 LSH band.

    bands must divide num_hashes; band bucket = md5 hash of the band's
    signature slice.  Pairs come from ``_lsh_pairs``: a self-join on
    (band, bucket), with its hot-bucket star and chain; the chain orders
    an over-size bucket's members by their full MinHash signature.

    The signature table (id + num_hashes longs per doc) is checkpointed
    so bucketing and the chain read materialized rows instead of
    re-running the md5-per-shingle pass; eager measured faster than lazy
    on fresh plans (1.7 s vs 2.4 s at bench scale): the lazy form
    re-enters the checkpoint machinery inside the tagged job's tasks.
    """
    r = num_hashes // bands
    hs = [f"h{i}" for i in range(num_hashes)]
    sig = _checkpoint(
        minhash_signatures(df, text_col, id_col, num_hashes)
        .withColumnRenamed(id_col, "_id")
    )
    rows = sig.select(
        "_id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("tbl"),
                md5_fingerprint(F.concat_ws(",", *hs[b * r:(b + 1) * r])).alias("bkt"),
            )
            for b in range(bands)
        ])).alias("b"),
    ).select("_id", "b.tbl", "b.bkt")

    def _sig_key(big: DataFrame, _rows: DataFrame) -> DataFrame:
        # join the checkpointed table whole, not a narrowed projection of
        # it: a smaller size estimate would make the planner broadcast the
        # whole signature table (one more job) instead of the members
        return big.join(sig, "_id").select("_id", "tbl", "bkt", F.array(*hs).alias("_key"))

    return _lsh_pairs(rows, max_bucket_size, _sig_key)


def jaccard_verify(
    pairs: DataFrame,
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Exact shingle-set Jaccard on candidate pairs; keeps >= threshold.
    Returns (id_a, id_b, jaccard).

    The pairs take their texts by join first, so only the documents of a
    candidate pair are shingled, not the whole corpus."""
    docs = df.select(F.col(id_col), F.col(text_col))
    withs = (
        pairs.join(docs.withColumnsRenamed({id_col: "id_a", text_col: "_ta"}), "id_a")
        .join(docs.withColumnsRenamed({id_col: "id_b", text_col: "_tb"}), "id_b")
        .select("id_a", "id_b",
                F.array_distinct(shingles(F.col("_ta"))).alias("sh_a"),
                F.array_distinct(shingles(F.col("_tb"))).alias("sh_b"))
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        withs.withColumn("jaccard", inter / union)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash(text_col, bits: int = 32) -> Column:
    """SimHash: bit b of the result = sign of sum over tokens of
    (+1 if bit b of token_hash set else -1).  Pure Column math.

    ONE aggregate pass carrying an array-of-votes accumulator — the naive
    per-bit form (``bits`` independent F.aggregate calls) scans the token
    array 32 times and builds a 32x-deep codegen tree."""
    toks = F.split(F.trim(F.lower(text_col)), r"\s+")
    hashes = F.transform(toks, token_hash)
    idx = F.sequence(F.lit(0), F.lit(bits - 1))
    acc0 = F.array_repeat(F.lit(0).cast("long"), bits)
    votes = F.aggregate(
        hashes,
        acc0,
        lambda acc, h: F.zip_with(
            acc, idx,
            lambda a, b: a + F.when(
                F.call_function("shiftright", h, b.cast("int")).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1),
        ),
    )
    bit_vals = F.zip_with(
        votes, idx,
        lambda v, b: F.when(
            v >= 0, F.call_function("shiftleft", F.lit(1).cast("long"), b.cast("int"))
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bit_vals, F.lit(0).cast("long"), lambda a, x: a.bitwiseOR(x))


def simhash_near_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Candidate blocking: split the simhash into (max_hamming+1) bit blocks
    of ``bits // (max_hamming + 1)`` bits — by pigeonhole, any pair within
    max_hamming shares at least one exact block; self-join per block then
    verify with bit_count(xor).  Returns (id_a, id_b, hamming) with
    id_a < id_b, distinct.
    """
    n_blocks = max_hamming + 1
    bb = bits // n_blocks
    sh = df.select(
        F.col(id_col).alias("_id"), simhash(F.col(text_col), bits).alias("_h")
    )

    def _key(i):
        sr = F.shiftright("_h", i * bb)
        # a full-width block needs no mask ((1<<64)-1 overflows a long)
        return sr if bb >= 64 else sr.bitwiseAND(F.lit((1 << bb) - 1))

    blocked = sh.select(
        "_id", "_h",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("blk"), _key(i).alias("key"))
            for i in range(n_blocks)
        ])).alias("b"),
    ).select("_id", "_h", "b.blk", "b.key")
    l, r = blocked.alias("l"), blocked.alias("r")
    ham = F.bit_count(F.col("l._h").bitwiseXOR(F.col("r._h")))
    return (
        l.join(r, (F.col("l.blk") == F.col("r.blk")) & (F.col("l.key") == F.col("r.key"))
               & (F.col("l._id") < F.col("r._id")))
        .where(ham <= max_hamming)
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"),
                ham.alias("hamming"))
        .distinct()
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Distributed connected components over an edge list — the cluster
    step of near-duplicate dedup (LSH/SimHash emit PAIRS; a training-data
    pipeline keeps ONE document per component).  Alternating Large-Star /
    Small-Star (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14): every round is two groupBy-min + equi-join passes
    over the edge set, no collect_list of neighborhoods, so hot nodes
    never materialize their adjacency in one task.  Converges in
    O(log^2 n) rounds (O(log n) in practice); per-round edge count is
    monotonically driven toward the final star graph.

    Returns (node, component) with component == the smallest node id in
    the node's component — deterministic across runs and cluster sizes.
    Nodes appearing only as isolated (no edges) are absent; callers union
    self-labels for their full id universe.

    100 TB shape: each round = 2 shuffles on node id; each round's edge
    set is checkpointed (``_checkpoint``: reliable when the session has a
    checkpoint dir, local otherwise) — iterative DataFrame plans otherwise
    nest the whole history and the Catalyst tree grows exponentially with
    rounds (plan-size OOM long before data size matters).  Convergence is a deterministic (count, xor-of-hash)
    digest, never a driver collect of edges.
    """
    e = (
        edges.select(F.col(src).cast("long").alias("a"),
                     F.col(dst).cast("long").alias("b"))
        .where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )
    cur = _checkpoint(e)
    def _digest(df):
        # bit_xor digest: order-insensitive, overflow-free under ANSI mode
        return df.agg(
            F.count("*").alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("a", "b")), F.lit(0)).alias("h"),
        ).first()

    digest = _digest(cur)

    def _sym(df: DataFrame) -> DataFrame:
        return df.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
            df.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )

    def _canon(df: DataFrame) -> DataFrame:
        return (
            df.where(F.col("u") != F.col("v"))
            .select(F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b"))
            .distinct()
        )

    for _ in range(MAX_CC_ROUNDS):
        sym = _sym(cur)
        # Large-Star: every neighbor v > u links to m(u) = min(Γ(u) ∪ {u})
        m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        big = (
            sym.where(F.col("v") > F.col("u"))
            .join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        ls = _canon(big.unionAll(m.select(F.col("u"), F.col("m").alias("v"))))
        # Small-Star: u and its smaller neighbors link to their minimum
        sym2 = _sym(ls)
        sm = sym2.where(F.col("v") < F.col("u"))
        m2 = sm.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            sm.join(m2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionAll(m2.select(F.col("u"), F.col("m").alias("v")))
        )
        nxt = _checkpoint(_canon(small))
        d2 = _digest(nxt)
        cur = nxt
        if (d2["n"], d2["h"]) == (digest["n"], digest["h"]):
            break
        digest = d2
    # star graph: component of a node = its (unique) smaller endpoint;
    # component roots label themselves
    sym = _sym(cur)
    labels = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("component"))
    return labels.select(F.col("u").alias("node"), "component")


def window_hashes(text_col, n: int = 8) -> Column:
    """array<long> of 60-bit hashes of every n-token window (stride 1).

    Same tokenization (lower + whitespace split) and hash (md5-60) as the
    MinHash family, so the DuckDB oracle reproduces it bit-for-bit.
    Documents shorter than ``n`` tokens emit no windows (a span shorter
    than the match length cannot be a duplicate-substring hit).
    """
    toks = F.split(F.trim(F.lower(text_col)), r"\s+")
    m = F.size(toks)
    idx = F.sequence(F.lit(0), m - n)
    return F.when(
        m >= n,
        F.transform(idx, lambda i: token_hash(F.concat_ws(
            " ", *[F.element_at(toks, (i + j + 1).cast("int")) for j in range(n)]
        ))),
    ).otherwise(F.expr("CAST(array() AS array<bigint>)"))


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Substring-level exact dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): find every maximal
    token span whose n-token windows all re-occur elsewhere in the
    corpus (>= 2 total occurrences), per document.

    Returns (id_col, tok_start, tok_end, n_windows, max_occ): token
    half-open span [tok_start, tok_end), the number of duplicated
    windows merged into it, and the hottest window's corpus count.

    100 TB shape (suffix arrays don't distribute; rolling window hashes
    do): one shuffle on whash for the corpus-wide occurrence count (map-
    side combined; output is one row per *duplicated* hash — tiny vs the
    corpus), one hash equi-join back to window positions, one per-doc
    window for the gaps-and-islands span merge.  A boilerplate window
    shared by millions of docs is ONE row in `hot` (no skew on the agg);
    the join back is an equi-join AQE can skew-split.  No UDFs, no
    driver actions.
    """
    wh = df.select(
        F.col(id_col),
        F.posexplode(window_hashes(F.col(text_col), n)).alias("pos", "whash"),
    )
    hot = (wh.groupBy("whash").agg(F.count("*").alias("occ"))
             .where(F.col("occ") >= 2))
    hits = wh.join(hot, "whash").select(id_col, "pos", "occ")
    # gaps-and-islands: windows at pos p, p' belong to one span when
    # p' - p <= n (they overlap or touch in token space)
    from pyspark.sql import Window
    w = Window.partitionBy(id_col).orderBy("pos")
    isl = hits.withColumn(
        "_new",
        F.when(F.col("pos") - F.lag("pos").over(w) <= n, F.lit(0)).otherwise(F.lit(1)),
    ).withColumn(
        "span_id",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        isl.groupBy(id_col, "span_id")
        .agg(
            F.min("pos").cast("bigint").alias("tok_start"),
            (F.max("pos") + n).cast("bigint").alias("tok_end"),
            F.count("*").cast("bigint").alias("n_windows"),
            F.max("occ").cast("bigint").alias("max_occ"),
        )
        .drop("span_id")
    )


def scrub_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """ExactSubstr removal (Lee et al. 2022 §3.2): cut every maximal
    duplicated span from every document EXCEPT its canonical occurrence,
    so each duplicated substring survives exactly once corpus-wide.

    Canonical occurrence of a duplicated n-token window = the corpus-wide
    minimum (doc, pos) pair holding it; a span is kept iff it contains at
    least one canonical window, otherwise its token range is removed.
    Deterministic: ties cannot occur ((doc, pos) is unique).

    Returns (id_col, clean_text, n_tokens, n_removed): the document with
    scrubbed spans cut out (whitespace-normalized: tokens re-joined with
    single spaces), its surviving token count, and how many tokens were
    removed.  Original token casing is preserved (hashing lowercases,
    cutting operates on positions).

    100 TB shape: duplicate_spans' plan plus one map-side-combinable
    min(struct(doc, pos)) per duplicated hash and one equi-join of each
    doc against its own (tiny) scrub-interval list; the text rebuild is
    pure JVM higher-order-function Column work (transform/filter/exists/
    concat_ws) — no UDFs, no driver actions, no extra full-corpus
    shuffle beyond the per-doc interval join.
    """
    from pyspark.sql import Window

    wh = df.select(
        F.col(id_col),
        F.posexplode(window_hashes(F.col(text_col), n)).alias("pos", "whash"),
    )
    hot = (wh.groupBy("whash").agg(F.count("*").alias("occ"))
             .where(F.col("occ") >= 2).select("whash"))
    hits = wh.join(hot, "whash")
    keeper = hits.groupBy("whash").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))).alias("k")
    )
    flagged = hits.join(keeper, "whash").select(
        id_col, "pos",
        ((F.col(f"k.d") == F.col(id_col)) & (F.col("k.p") == F.col("pos")))
        .alias("kept"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    isl = flagged.withColumn(
        "_new",
        F.when(F.col("pos") - F.lag("pos").over(w) <= n, F.lit(0)).otherwise(F.lit(1)),
    ).withColumn(
        "span_id",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    cut = (
        isl.groupBy(id_col, "span_id")
        .agg(F.min("pos").alias("s"), (F.max("pos") + n).alias("e"),
             F.max(F.col("kept").cast("int")).alias("keep"))
        .where(F.col("keep") == 0)
        .groupBy(id_col)
        .agg(F.collect_list(F.struct("s", "e")).alias("ivs"))
    )
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    ivs = F.coalesce(F.col("ivs"), F.expr(
        "CAST(array() AS array<struct<s:int,e:int>>)"))
    indexed = F.filter(
        F.transform(toks, lambda t, i: F.struct(t.alias("t"), i.alias("i"))),
        lambda s: ~F.exists(ivs, lambda iv: (s["i"] >= iv["s"]) & (s["i"] < iv["e"])),
    )
    return (
        df.join(cut, id_col, "left")
        .select(
            id_col,
            F.concat_ws(" ", F.transform(indexed, lambda s: s["t"]))
            .alias("clean_text"),
            F.size(indexed).cast("bigint").alias("n_tokens"),
            (F.size(toks) - F.size(indexed)).cast("bigint").alias("n_removed"),
        )
    )


def contamination(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
) -> DataFrame:
    """Test-set contamination flags (the GPT-3 appendix-C / PaLM recipe:
    n-gram collision against the evaluation set, canonically n=13): for
    every training document, the fraction of its n-token windows that
    occur anywhere in the test corpus.

    Returns (id_col, n_windows, n_hits, frac): total windows, windows
    colliding with the test set, and n_hits/n_windows (0.0 for docs
    shorter than n tokens — they cannot carry an n-gram collision).

    100 TB shape: the test side reduces to DISTINCT window hashes (tiny —
    eval sets are MBs against a TB-scale train corpus), the train side is
    one explode + one equi-semi-join on the hash (broadcast-able when the
    test set is small; AQE decides) + one per-doc count.  No UDFs, no
    driver actions, nothing quadratic.
    """
    tw = (
        test.select(F.explode(window_hashes(F.col(text_col), n)).alias("whash"))
        .distinct()
    )
    tot = train.select(
        F.col(id_col),
        F.size(window_hashes(F.col(text_col), n)).cast("bigint").alias("n_windows"),
    )
    hits = (
        train.select(
            F.col(id_col),
            F.explode(window_hashes(F.col(text_col), n)).alias("whash"),
        )
        .join(tw, "whash", "semi")
        .groupBy(id_col)
        .agg(F.count("*").cast("bigint").alias("n_hits"))
    )
    return (
        tot.join(hits, id_col, "left")
        .select(
            id_col,
            "n_windows",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
            F.when(F.col("n_windows") > 0,
                   F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("n_windows"))
            .otherwise(F.lit(0.0)).alias("frac"),
        )
    )
