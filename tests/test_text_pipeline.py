"""Behavioral tests for the r5 webtext-pipeline scalars: PII scrubbing,
URL canonicalization, repetition metrics (cross-engine parity is covered
by the `text_metrics` contract row; these pin the per-case semantics)."""

import pytest
from pyspark.sql import functions as F

from freemap_tiler_spark.functions import text as T

pytestmark = pytest.mark.spark


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_scrub_pii_all_categories(spark):
    s = ("write bob.smith+x@mail.example.org or call 555-123-4567, "
         "server at 10.20.30.40 end")
    got = _one(spark, T.scrub_pii(F.lit(s)))
    assert got == "write [EMAIL] or call [PHONE], server at [IP] end"


def test_scrub_pii_counts_and_no_pii_passthrough(spark):
    s = "a@b.io c@d.co 1.2.3.4 call 200-300-4000"
    row = spark.range(1).select(
        *[v.alias(k) for k, v in T.pii_counts(F.lit(s)).items()]).collect()[0]
    assert (row["n_email"], row["n_phone"], row["n_ip"]) == (2, 1, 1)
    clean = "no personal data here, just words and 42 numbers"
    assert _one(spark, T.scrub_pii(F.lit(clean))) == clean


def test_phone_not_eaten_by_ip_pattern(spark):
    # dotted quads redact as IP, hyphenated as phone — order must not
    # cross-contaminate (IP runs before phone in _PII_ORDER)
    s = "ip 1.2.3.4 tel 555-123-4567"
    assert _one(spark, T.scrub_pii(F.lit(s))) == "ip [IP] tel [PHONE]"


@pytest.mark.parametrize("raw,want", [
    ("https://WWW.Example.COM/Path/?q=1#frag", "example.com/path"),
    ("http://example.com", "example.com"),
    ("example.com/a/b/", "example.com/a/b"),
    ("  HTTPS://www.Ex.org/x?utm_source=t  ", "ex.org/x"),
    ("https://wwwx.org/", "wwwx.org"),  # only a literal 'www.' prefix strips
])
def test_canonical_url(spark, raw, want):
    assert _one(spark, T.canonical_url(F.lit(raw))) == want


def test_rep_metrics_planted_repetition(spark, sf_dir, tmp_path):
    # a doc that is one trigram repeated: dup fractions must be high
    import pandas as pd

    docs = pd.DataFrame({
        "doc_id": [0, 1],
        "text": ["a b c a b c a b c", "u v w x y z"],
        "lang": ["en", "en"], "source": ["s", "s"],
        "n_chars": [17, 11],
    })
    p = str(tmp_path / "documents.parquet")
    docs.to_parquet(p)
    from freemap_tiler_spark.contract import q_rep_metrics
    out = {r["doc_id"]: r for r in
           q_rep_metrics(spark, str(tmp_path)).collect()}
    r0, r1 = out[0], out[1]
    assert r0["n_words"] == 9 and r0["n_distinct"] == 3
    assert r0["dup_word_frac"] == pytest.approx(1 - 3 / 9)
    assert r0["top_word_frac"] == pytest.approx(3 / 9)
    # trigrams of the 9-word doc: 7 total, 3 distinct ('a b c','b c a','c a b')
    assert r0["dup_tri_frac"] == pytest.approx(1 - 3 / 7)
    assert r1["dup_word_frac"] == 0.0 and r1["dup_tri_frac"] == 0.0


def test_domain_mix_alpha_smoothing(spark):
    """Alpha-sampling over a planted 900/90/10 skew: hot domain is cut
    toward its smoothed share, cold domains keep rate 1; the audited
    sample is deterministic and n_out matches an independent numpy replay
    of the same md5 hash rule."""
    import hashlib

    from freemap_tiler_spark.operators import mixing

    rows = []
    sizes = {"web": 900, "wiki": 90, "books": 10}
    i = 0
    for dom, n in sizes.items():
        for _ in range(n):
            rows.append((i, dom))
            i += 1
    df = spark.createDataFrame(rows, "doc_id long, source string")

    audit = {r.source: r for r in mixing.mix_audit(df, alpha=0.5).collect()}
    wsum = sum(n ** 0.5 for n in sizes.values())
    tot = sum(sizes.values())
    for dom, n in sizes.items():
        rate = min(1.0, tot * (n ** 0.5) / wsum / n)
        assert audit[dom].n_in == n
        assert audit[dom].rate == pytest.approx(rate, abs=1e-12)
        # independent replay of the deterministic draw
        exp = sum(
            1 for did, d in rows if d == dom
            and int(hashlib.md5(f"{did}:mix".encode()).hexdigest()[:15], 16)
            / float(1 << 60) < rate
        )
        assert audit[dom].n_out == exp
    assert audit["books"].rate == 1.0 and audit["books"].n_out == 10
    # hot domain genuinely downsampled: 1000 * 30 / (30+sqrt(90)+sqrt(10)) / 900
    assert audit["web"].rate == pytest.approx(0.78157, abs=1e-4)

    # the sample is a subset of the input, and a repartitioned second run
    # audits exactly the same kept sizes
    assert all(a.n_out <= a.n_in for a in audit.values())
    again = {r.source: r.n_out for r in
             mixing.mix_audit(df.repartition(3), alpha=0.5).collect()}
    assert again == {dom: a.n_out for dom, a in audit.items()}


def test_domain_mix_epochs_upsamples_cold_domain(spark):
    """Unclamped alpha-sampling: the cold domain's rate exceeds 1 so its
    docs repeat across epochs; totals match an independent hash replay."""
    import hashlib

    from freemap_tiler_spark.operators import mixing

    sizes = {"web": 900, "books": 100}
    rows, i = [], 0
    for dom, n in sizes.items():
        for _ in range(n):
            rows.append((i, dom)); i += 1
    df = spark.createDataFrame(rows, "doc_id long, source string")
    wsum = sum(n ** 0.5 for n in sizes.values())
    tot = sum(sizes.values())
    audit = {r.source: r for r in mixing.mix_epochs_audit(df, alpha=0.5).collect()}
    for dom, n in sizes.items():
        rate = tot * (n ** 0.5) / wsum / n
        assert audit[dom].rate == pytest.approx(rate, abs=1e-12)
        whole, frac = int(rate), rate - int(rate)
        exp = sum(
            whole + (1 if int(hashlib.md5(f"{did}:mix".encode()).hexdigest()[:15], 16)
                     / float(1 << 60) < frac else 0)
            for did, d in rows if d == dom
        )
        assert audit[dom].n_out == exp
    # books rate = 1000*10/40/100 = 2.5 -> every books doc appears >= 2x
    assert audit["books"].rate == pytest.approx(2.5)
    assert audit["books"].max_epoch >= 2 - 1
    assert audit["web"].rate < 1.0  # hot domain still downsampled
    m = mixing.domain_mix_epochs(df, alpha=0.5)
    per_doc = m.where("source = 'books'").groupBy("doc_id").count().collect()
    assert all(r["count"] in (2, 3) for r in per_doc)


def test_lm_perplexity_filter(spark):
    """CCNet-style LM scoring: a doc made of corpus-frequent bigrams
    scores LOWER cross-entropy than shuffled gibberish over the same
    vocabulary; a threshold between them separates every natural doc from
    the junk; and scores are invariant to repartitioning."""
    from freemap_tiler_spark.operators import lm

    natural = "the cat sat on the mat and the dog sat on the rug"
    rows = [(i, natural) for i in range(8)]
    rows.append((100, "rug the on mat dog and cat sat the on the"))  # shuffled
    rows.append((101, "qq zz xx vv kk jj ww yy"))                    # gibberish
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    model = lm.train_bigram_lm(docs)
    ppl = {r.doc_id: r.log_ppl
           for r in lm.doc_log_perplexity(docs, model).collect()}
    assert ppl[0] < min(ppl[100], ppl[101])  # natural < both junk docs
    thr = (ppl[0] + min(ppl[100], ppl[101])) / 2
    assert {d for d, v in ppl.items() if v <= thr} == set(range(8))
    ppl2 = {r.doc_id: r.log_ppl
            for r in lm.doc_log_perplexity(
                docs.repartition(7), lm.train_bigram_lm(docs.repartition(5))
            ).collect()}
    import math
    assert all(math.isclose(ppl[k], ppl2[k], abs_tol=1e-9) for k in ppl)
