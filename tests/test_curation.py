"""Curation-pipeline operators: quality gate, deterministic sampling,
vocabulary building, benchmark decontamination. Small inline fixtures
with hand-computed expectations; the sf-data equivalence to DuckDB is
covered by tests/test_oracle_gate.py."""

import pytest

from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_quality_filter_gates(spark):
    from ml4logs_spark.operators import textqa

    rows = [
        (0, "the cat and the dog sat on the mat with a hat", "a"),  # stopword-rich
        (1, "xyzzy", "a"),                                          # too short
        (2, "qqq www eee rrr ttt yyy", "a"),                        # no stopwords
    ]
    out = textqa.quality_filter(
        _docs(spark, rows), min_score=0.3, min_tokens=3
    ).toPandas()
    assert set(out.doc_id) == {0}
    # loosening the gates readmits the stopword-free doc
    out2 = textqa.quality_filter(
        _docs(spark, rows), min_score=0.0, min_tokens=3
    ).toPandas()
    assert set(out2.doc_id) == {0, 2}


def test_hash_sample_deterministic_and_rated(spark):
    from ml4logs_spark.operators import textqa

    rows = [(i, f"doc {i}", f"s{i % 3}") for i in range(400)]
    df = _docs(spark, rows)
    a = sorted(textqa.hash_sample(df).toPandas().doc_id)
    b = sorted(textqa.hash_sample(df).toPandas().doc_id)
    assert a == b, "hash sampling must be reproducible run-to-run"
    # "40"/256 = 25% nominal; allow binomial slack on 400 draws
    assert 0.15 <= len(a) / 400 <= 0.35, len(a)
    # monotone in rate: a smaller prefix threshold selects a subset
    small = set(textqa.hash_sample(df, rate_hex="20").toPandas().doc_id)
    assert small <= set(a)

    with pytest.raises(ValueError):
        textqa.hash_sample(df, rate_hex="GG")
    with pytest.raises(ValueError):
        textqa.hash_sample(df, rate_hex="4")
    with pytest.raises(ValueError):
        textqa.hash_sample(df, rate_hex="400")  # 3 chars: neither form


def test_hash_sample_subpercent_precision(spark):
    """4-hex-char rates express weights below the old 1/256 floor:
    "0080" = 1/512 ~ 0.195%, unreachable with 2-char rates (and "00"
    still means exactly zero)."""
    from pyspark.sql import functions as F
    from ml4logs_spark.operators import textqa

    docs = spark.range(20000).select(
        F.col("id").alias("doc_id"), F.lit("s0").alias("source"),
        F.lit("x").alias("text"),
    )
    n = textqa.hash_sample(docs, rate_hex="0080").count()
    # binomial(20000, 1/512): mean ~39, sd ~6.2 — generous 4-sigma band
    assert 14 <= n <= 66, n
    # 2-char legacy rate normalizes bit-identically to its padded form
    a = sorted(textqa.hash_sample(docs, rate_hex="20").toPandas().doc_id)
    b = sorted(textqa.hash_sample(docs, rate_hex="2000").toPandas().doc_id)
    assert a == b
    assert textqa.hash_sample(docs, rate_hex="00").count() == 0
    # the mixture sampler takes the same sub-1/256 weights per source
    m = textqa.source_mix_sample(docs, {"s0": "0080"}).count()
    assert 14 <= m <= 66, m


def test_doc_length_histogram_buckets(spark):
    from ml4logs_spark.operators import textqa

    docs = spark.createDataFrame(
        [(0, "t", "s"), (1, "a b c", "s"), (2, "a b c d e f", "s")],
        "doc_id long, text string, source string",
    )
    out = {r.bucket_lo: (r.n_docs, r.n_tokens_total)
           for r in textqa.doc_length_histogram(docs).collect()}
    # n=1 -> bucket 1; n=3 -> bucket 2; n=6 -> bucket 4
    assert out == {1: (1, 1), 2: (1, 3), 4: (1, 6)}


def test_top_ngrams_per_source_rank_and_prune(spark):
    """Per-source ranking with deterministic tie-break; pairs under
    min_count never reach the ranking window."""
    from ml4logs_spark.operators import textqa

    docs = spark.createDataFrame(
        [
            (0, "x y x y x y", "s0"),   # (x,y)x3  (y,x)x2
            (1, "p q p q", "s0"),       # (p,q)x2  (q,p)x1 -> pruned
            (2, "m n m n", "s1"),       # (m,n)x2  (n,m)x1 -> pruned
        ],
        "doc_id long, text string, source string",
    )
    rows = textqa.top_ngrams_per_source(docs, k=5, min_count=2).collect()
    by_src = {}
    for r in sorted(rows, key=lambda r: (r.source, r.rank)):
        by_src.setdefault(r.source, []).append((r.tok_a, r.tok_b, r.n, r.rank))
    assert by_src["s0"] == [("x", "y", 3, 1), ("p", "q", 2, 2), ("y", "x", 2, 3)]
    assert by_src["s1"] == [("m", "n", 2, 1)]


def test_build_vocab_df_thresholds(spark):
    from ml4logs_spark.operators import textqa

    rows = [
        (0, "apple banana apple", "a"),
        (1, "banana cherry", "a"),
        (2, "banana durian durian", "a"),
        (3, "Apple elder", "a"),
    ]
    out = (
        textqa.build_vocab(_docs(spark, rows), min_df=2, max_df_ratio=0.6)
        .toPandas()
        .set_index("token")
    )
    # banana df=3 > 0.6*4 dropped; cherry/elder df=1 < 2 dropped;
    # apple df=2 (case-folded), durian df=1 dropped
    assert set(out.index) == {"apple"}
    assert out.loc["apple", "df"] == 2
    assert out.loc["apple", "tf"] == 3
    # ids are dense over sorted surviving tokens, starting at 1
    full = textqa.build_vocab(_docs(spark, rows), min_df=1, max_df_ratio=1.0).toPandas()
    assert sorted(full.token) == list(full.sort_values("token_id").token)
    assert list(sorted(full.token_id)) == list(range(1, len(full) + 1))


def test_decontaminate_shingle_overlap(spark):
    from ml4logs_spark.operators import dedup

    corpus = _docs(spark, [
        (0, "alpha beta gamma delta", "a"),       # shares 3-gram with bench
        (1, "one two three four five", "a"),      # disjoint
        (2, "beta gamma delta epsilon", "a"),     # shares the same 3-gram
    ]).drop("source")
    bench = _docs(spark, [
        (100, "zzz beta gamma delta qqq", "b"),
    ]).drop("source")

    dirty = dedup.contaminated_ids(corpus, bench).toPandas()
    assert set(dirty.doc_id) == {0, 2}
    clean = dedup.decontaminate(corpus, bench).toPandas()
    assert set(clean.doc_id) == {1}
    # all original columns survive the anti-join
    assert set(clean.columns) == {"doc_id", "text"}


def test_decontaminate_empty_benchmark(spark):
    from ml4logs_spark.operators import dedup

    corpus = _docs(spark, [(0, "a b c d", "a")]).drop("source")
    bench = spark.createDataFrame([], "doc_id long, text string")
    assert dedup.decontaminate(corpus, bench).count() == 1


def test_curate_corpus_end_to_end(spark):
    from ml4logs_spark.operators import curate

    corpus = _docs(spark, [
        (0, "the cat and the dog sat on the mat with a hat", "a"),  # survives
        (1, "the cat and the dog sat on the mat with a hat", "a"),  # exact dup
        (2, "xx", "a"),                                             # fails gate
        (3, "the red fox ran over the old stone bridge today", "a"),  # contaminated
    ]).drop("source")
    bench = _docs(spark, [
        (100, "zz the old stone bridge yy", "b"),
    ]).drop("source")

    out = curate.curate_corpus(
        corpus, bench, min_score=0.3, min_tokens=3, chunk_tokens=8, overlap=2
    ).toPandas()
    # only doc 0 survives: dup 1 dropped, 2 gated, 3 decontaminated
    assert set(out.doc_id) == {0}
    # 12 tokens, stride 6 -> 2 chunks
    d0 = out.sort_values("chunk_idx")
    assert d0.chunk_text.tolist() == [
        "the cat and the dog sat on the",
        "on the mat with a hat",
    ]
    assert d0.n_tokens.tolist() == [8, 6]


def test_source_mix_sample_rates_and_validation(spark):
    """Per-source draws hit their tier rates and unlisted sources drop;
    bad hex rates are rejected."""
    import pytest
    from pyspark.sql import functions as F
    from ml4logs_spark.operators import textqa

    docs = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 2).cast("string")).alias("source"),
        F.lit("x").alias("text"),
    )
    out = textqa.source_mix_sample(docs, {"s0": "80"})  # 50%, s1 dropped
    rates = {r.source: r.n for r in
             out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert set(rates) == {"s0"}
    assert abs(rates["s0"] / 2000 - 0.5) < 0.05
    # deterministic: identical draw on re-run
    assert out.select("doc_id").collect() == out.select("doc_id").collect()
    with pytest.raises(ValueError):
        textqa.source_mix_sample(docs, {"s0": "GG"})


def test_curate_corpus_near_dedup_stage(spark):
    """near_threshold collapses near-duplicate chains that exact dedup
    keeps: only the cluster minimum contributes chunks."""
    from ml4logs_spark.operators import curate

    base = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, base), (2, base + " xtra"), (50, "completely different text "
          + " ".join(f"q{i}" for i in range(40)))],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(99, "zz1 zz2 zz3 zz4")], "doc_id long, text string"
    )
    exact = curate.curate_corpus(docs, bench, min_score=0.0, min_tokens=3)
    near = curate.curate_corpus(
        docs, bench, min_score=0.0, min_tokens=3, near_threshold=0.8
    )
    exact_ids = {r.doc_id for r in exact.select("doc_id").distinct().collect()}
    near_ids = {r.doc_id for r in near.select("doc_id").distinct().collect()}
    assert exact_ids == {1, 2, 50}   # exact dedup keeps both near-dups
    assert near_ids == {1, 50}       # near-dedup keeps the cluster min


def test_curate_corpus_span_dedup_stage(spark):
    """span_tokens strips corpus-wide repeated spans before the gate:
    doc 2's boilerplate half disappears from its chunks while its
    unique half survives; the chain stays one lazy Catalyst plan."""
    from ml4logs_spark.operators import curate

    boiler = " ".join(f"b{i}" for i in range(8))
    uniq = " ".join(f"u{i}" for i in range(8))
    docs = spark.createDataFrame(
        [(1, boiler + " " + " ".join(f"w{i}" for i in range(8))),
         (2, boiler + " " + uniq)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(99, "zz1 zz2 zz3 zz4")], "doc_id long, text string"
    )
    out = curate.curate_corpus(
        docs, bench, min_score=0.0, min_tokens=3,
        chunk_tokens=32, overlap=0, span_tokens=8,
    )
    chunks = {r.doc_id: r.chunk_text for r in out.collect()}
    assert boiler in chunks[1]          # canonical first occurrence kept
    assert chunks[2] == uniq            # doc 2 keeps only its unique span


def test_repetition_stats_degenerate_docs(spark):
    """Looping text scores high on every repetition signal; varied text
    scores low; single-token and empty docs report 0 dup_bigram_frac."""
    from ml4logs_spark.operators import textqa

    docs = spark.createDataFrame(
        [(1, "spam spam spam spam spam"),
         (2, "all unique words in this one"),
         (3, "one"),
         (4, ""),
         (5, "a  b  c  d")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in textqa.repetition_stats(docs).collect()}
    # double spaces are tokenizer noise, not a repeated '' token
    assert got[5].distinct_ratio == 1.0 and got[5].top_token_frac == 0.25
    assert got[1].distinct_ratio == 0.2 and got[1].top_token_frac == 1.0
    assert got[1].dup_bigram_frac == 0.75  # 4 bigrams, 1 distinct
    assert got[2].distinct_ratio == 1.0 and got[2].dup_bigram_frac == 0.0
    assert got[3].dup_bigram_frac == 0.0 and got[4].dup_bigram_frac == 0.0


def test_curate_corpus_mix_and_repetition_stages(spark):
    """mix_weights drops unlisted sources at the scan and the
    Gopher-style repetition gate drops loop/boilerplate docs before the
    quality gate; both stay inside the one lazy plan (no extra jobs)."""
    from ml4logs_spark.operators import curate, textqa

    normal = "the cat and the dog sat on the mat with a hat"
    loopy = " ".join(["buy now click here"] * 12)  # dup_bigram_frac ~ 1
    docs = _docs(spark, [
        (0, normal, "keep"),
        (1, loopy, "keep"),
        (2, normal + " extra words", "drop"),  # source not in weights
    ])
    bench = _docs(spark, [(99, "zz1 zz2 zz3 zz4", "b")]).drop("source")

    out = curate.curate_corpus(
        docs, bench, min_score=0.0, min_tokens=3,
        mix_weights={"keep": "ffff"},  # 100% of 'keep', others dropped
        max_dup_bigram_frac=0.5,
    ).toPandas()
    assert set(out.doc_id) == {0}

    # ceiling high enough readmits the loopy doc; weights on both
    # sources readmit source 'drop'
    out2 = curate.curate_corpus(
        docs, bench, min_score=0.0, min_tokens=3,
        mix_weights={"keep": "ffff", "drop": "ffff"},
        max_dup_bigram_frac=1.0,
    ).toPandas()
    assert set(out2.doc_id) == {0, 1, 2}

    # the gate threshold agrees with the reported statistic: doc 1 sits
    # strictly above 0.5 per repetition_stats, doc 0 below
    rep = {r.doc_id: r.dup_bigram_frac
           for r in textqa.repetition_stats(docs).collect()}
    assert rep[1] > 0.5 > rep[0]


def test_dup_bigram_frac_expr_matches_repetition_stats(spark):
    """The shared expression and the report column can never drift:
    same values on the same docs (including degenerate 0/1-token)."""
    from pyspark.sql import functions as F
    from ml4logs_spark.operators import textqa

    docs = _docs(spark, [
        (0, "a b a b a b", "s"),
        (1, "one two three four", "s"),
        (2, "", "s"),
        (3, "solo", "s"),
        (4, None, "s"),
    ])
    via_expr = {r.doc_id: r.v for r in docs.select(
        "doc_id", textqa.dup_bigram_frac_expr("text").alias("v")).collect()}
    via_stats = {r.doc_id: r.dup_bigram_frac
                 for r in textqa.repetition_stats(docs).collect()}
    assert via_expr == via_stats


def test_unigram_logprob_hand_computed(spark):
    """Add-one-smoothed corpus unigram LM against hand-computed values,
    common-token docs score above rare-token docs, and NULL/empty docs
    keep a NULL-score row (NULL-text contract)."""
    import math

    from ml4logs_spark.operators import textqa

    # corpus tokens: a a a b  -> N=4, V=2
    # logp(a)=ln(4/6), logp(b)=ln(2/6)
    docs = _docs(spark, [
        (0, "a a", "s"),     # avg = ln(4/6)
        (1, "a b", "s"),     # avg = (ln(4/6)+ln(2/6))/2
        (2, "", "s"),
        (3, None, "s"),
    ])
    got = {r.doc_id: (r.avg_logprob, r.n_tokens)
           for r in textqa.unigram_logprob(docs).collect()}
    lp_a, lp_b = math.log(4 / 6), math.log(2 / 6)
    assert got[0] == (round(lp_a, 6), 2)
    assert got[1] == (round((lp_a + lp_b) / 2, 6), 2)
    assert got[2] == (None, 0) and got[3] == (None, 0)
    assert got[0][0] > got[1][0]  # common tokens -> higher score


def test_bigram_logprob_hand_computed(spark):
    """Add-one-smoothed corpus bigram LM against hand-computed values:
    lp(a,b) = ln((c(a,b)+1)/(c(a)+V)); in-order docs score above
    shuffled docs over the SAME tokens (the property unigram_logprob
    cannot see), and <2-token docs keep a NULL-score row."""
    import math

    from ml4logs_spark.operators import textqa

    # corpus pairs: (a,b)x2 from docs 0+1, (b,a) from doc 1
    # context counts: c(a)=3, c(b)=3 (doc 2's lone token counts too)
    # V = 2  ->  lp(a,b)=ln(3/5), lp(b,a)=ln(2/5)
    docs = _docs(spark, [
        (0, "a b", "s"),
        (1, "a b a", "s"),
        (2, "b", "s"),       # 1 token -> 0 bigrams, NULL score
        (3, None, "s"),
    ])
    got = {r.doc_id: (r.avg_bigram_logprob, r.n_bigrams)
           for r in textqa.bigram_logprob(docs).collect()}
    lp_ab, lp_ba = math.log((2 + 1) / (3 + 2)), math.log((1 + 1) / (3 + 2))
    assert got[0] == (round(lp_ab, 6), 1)
    assert got[1] == (round((lp_ab + lp_ba) / 2, 6), 2)
    assert got[2] == (None, 0) and got[3] == (None, 0)
    assert got[0][0] > got[1][0]  # frequent ORDER -> higher score


def test_lm_score_self_equals_unigram_logprob(spark):
    """lm_score under the model fit on the SAME corpus reproduces
    unigram_logprob exactly (the fit/apply seam adds nothing), and an
    OOV-only day-2 doc takes the smoothed floor ln(1/(N+V))."""
    import math

    from ml4logs_spark.operators import textqa

    docs = _docs(spark, [
        (0, "a a b", "s"), (1, "b c", "s"), (2, "", "s"), (3, None, "s"),
    ])
    self_scored = {tuple(r) for r in textqa.lm_score(
        docs, textqa.vocab_counts(docs)).collect()}
    direct = {tuple(r) for r in textqa.unigram_logprob(docs).collect()}
    assert self_scored == direct
    # frozen model: fit on docs, score an unseen-token batch
    new = _docs(spark, [(10, "zzz zzz", "s")])
    row = textqa.lm_score(new, textqa.vocab_counts(docs)).collect()[0]
    assert row.avg_logprob == round(math.log(1 / (5 + 3)), 6)  # N=5, V=3
    assert row.n_tokens == 2


def test_perplexity_buckets_hand_computed(spark):
    """Per-source ntile over the unigram-LM score: head bucket gets the
    most-typical docs, NULL-score docs rank last, bucket sizes follow
    ntile (larger buckets first), and sources tier independently."""
    from ml4logs_spark.operators import textqa

    # source s: 4 docs with strictly ordered scores (more 'a's = more
    # typical since 'a' dominates the corpus) + a NULL-text doc;
    # source t: 2 docs -> buckets 1 and 2 only (ntile on 2 rows, n=3)
    docs = _docs(spark, [
        (0, "a a a", "s"),
        (1, "a a b", "s"),
        (2, "a b b", "s"),
        (3, "c", "s"),
        (4, None, "s"),
        (5, "a a", "t"),
        (6, "b c", "t"),
    ])
    rows = {r.doc_id: r for r in textqa.perplexity_buckets(docs).collect()}
    assert [rows[i].ppl_rank for i in range(5)] == [1, 2, 3, 4, 5]
    # 5 rows, 3 buckets -> sizes 2,2,1; NULL-score doc 4 lands in tail
    assert [rows[i].ppl_bucket for i in range(5)] == [1, 1, 2, 2, 3]
    assert rows[4].avg_logprob is None
    assert (rows[5].ppl_rank, rows[6].ppl_rank) == (1, 2)
    assert (rows[5].ppl_bucket, rows[6].ppl_bucket) == (1, 2)


def test_perplexity_buckets_matches_single_partition_ntile(spark):
    """The distributed two-phase ranking equals a plain per-source
    ntile window regardless of partition count (1, 3, 16)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ml4logs_spark.operators import textqa

    docs = _docs(spark, [
        (i, " ".join("abcde"[j % 5] * ((i + j) % 3 + 1)
                      for j in range(i % 7 + 1)), f"s{i % 3}")
        for i in range(60)
    ])
    w = Window.partitionBy("source").orderBy(
        F.col("avg_logprob").desc_nulls_last(), "doc_id"
    )
    expect = {
        (r.doc_id, r.ppl_rank, r.ppl_bucket)
        for r in docs.select("doc_id", "source")
        .join(textqa.unigram_logprob(docs), "doc_id")
        .select(
            "doc_id",
            F.row_number().over(w).alias("ppl_rank"),
            F.ntile(3).over(w).alias("ppl_bucket"),
        )
        .collect()
    }
    for parts in (1, 3, 16):
        got = {
            (r.doc_id, r.ppl_rank, r.ppl_bucket)
            for r in textqa.perplexity_buckets(docs, n_parts=parts).collect()
        }
        assert got == expect, f"n_parts={parts}"


def test_perplexity_buckets_null_source_matches_oracle(spark):
    """Documents with a NULL source form one source of their own, as
    the oracle's PARTITION BY treats them: all five documents come back,
    ranked and bucketed exactly as DuckDB ranks them."""
    import duckdb
    import pandas as pd

    from ml4logs_spark.operators import textqa
    from ml4logs_spark.oracle.docs_sql import DOC_ORACLES

    rows = [
        (0, "a a b", "s"),
        (1, "a b", None),
        (2, "b c", "s"),
        (3, "a", None),
        (4, "c c", "t"),
    ]
    got = sorted(
        tuple(r) for r in textqa.perplexity_buckets(_docs(spark, rows))
        .select("doc_id", "source", "avg_logprob", "ppl_rank", "ppl_bucket")
        .collect()
    )
    con = duckdb.connect()
    con.register(
        "documents", pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    )
    want = sorted(con.execute(DOC_ORACLES["perplexity_buckets"]).fetchall())
    con.close()
    assert len(want) == 5
    assert [r[:2] + r[3:] for r in got] == [r[:2] + r[3:] for r in want]
    assert [r[2] for r in got] == pytest.approx([r[2] for r in want], abs=1e-6)


def test_source_kl_divergence_hand_computed(spark):
    """KL(P_s || Q) against hand-folded terms; a source matching the
    corpus marginal sits at ~0, a skewed source is positive; NULL-text
    docs contribute nothing."""
    import math

    from ml4logs_spark.operators import textqa

    # corpus: s = {a a b}, t = {a b b}, so Q = {a: 1/2, b: 1/2}
    docs = _docs(spark, [
        (0, "a a b", "s"),
        (1, "a b b", "t"),
        (2, None, "t"),
    ])
    got = {r.source: (r.n_tokens, r.kl_nano)
           for r in textqa.source_kl_divergence(docs).collect()}

    def nano(x):
        return int(math.floor(abs(x) * 1e9 + 0.5)) * (1 if x >= 0 else -1)

    kl_s = nano((2 / 3) * math.log((2 / 3) / 0.5)) + nano(
        (1 / 3) * math.log((1 / 3) / 0.5))
    assert got == {"s": (3, kl_s), "t": (3, kl_s)}  # symmetric skews
    assert kl_s > 0
    # a source identical to the corpus marginal has KL == 0
    uni = _docs(spark, [(0, "a b", "u"), (1, "a b", "v")])
    got2 = {r.source: r.kl_nano
            for r in textqa.source_kl_divergence(uni).collect()}
    assert got2 == {"u": 0, "v": 0}


def test_bigram_novelty_hand_computed(spark):
    """novel_frac counts bigrams seen in no OTHER doc: shared bigrams
    score 0, unique ones 1, within-doc repeats stay novel, <2-token
    docs keep a 0-bigram NULL-frac row."""
    from ml4logs_spark.operators import textqa

    docs = _docs(spark, [
        (0, "a b c", "s"),      # (a,b) shared with doc 1, (b,c) unique
        (1, "a b", "s"),        # (a,b) shared -> 0 novel
        (2, "x y x y", "s"),    # all 3 bigrams only here (xy repeats)
        (3, "z", "s"),
        (4, None, "s"),
    ])
    got = {r.doc_id: (r.n_bigrams, r.novel_frac)
           for r in textqa.bigram_novelty(docs).collect()}
    assert got[0] == (2, 0.5)
    assert got[1] == (1, 0.0)
    assert got[2] == (3, 1.0)
    assert got[3] == (0, None) and got[4] == (0, None)


def test_curate_corpus_temperature_mix_stage(spark):
    """mix_alpha applies the temperature downsample at the scan: the
    chain output equals manually pre-mixing then curating, and
    mix_weights + mix_alpha together is a contract error."""
    import pytest as _pytest

    from ml4logs_spark.operators import curate, textqa

    base = "the cat and the dog sat on the mat with a hat number"
    rows = [(i, f"{base} {i}", "big" if i < 40 else "small")
            for i in range(50)]
    docs = _docs(spark, rows)
    bench = _docs(spark, [(99, "zz1 zz2 zz3 zz4", "b")]).drop("source")

    out = curate.curate_corpus(
        docs, bench, min_score=0.0, min_tokens=3, mix_alpha=0.75
    ).toPandas()
    pre = textqa.temperature_mix_sample(docs, alpha=0.75, full_rows=True)
    manual = curate.curate_corpus(
        pre, bench, min_score=0.0, min_tokens=3
    ).toPandas()
    key = ["doc_id", "chunk_idx"]
    assert sorted(map(tuple, out[key].values.tolist())) == sorted(
        map(tuple, manual[key].values.tolist())
    )
    # the head source thinned, the tail source survived whole
    kept_ids = set(out.doc_id)
    assert set(range(40, 50)) <= kept_ids
    assert len([i for i in kept_ids if i < 40]) < 40

    with _pytest.raises(ValueError, match="alternative mixing policies"):
        curate.curate_corpus(
            docs, bench, mix_weights={"big": "ffff"}, mix_alpha=0.75
        )


def test_temperature_full_rows_matches_default(spark):
    from ml4logs_spark.operators import textqa

    rows = [(i, f"text {i}", "a" if i < 30 else "b") for i in range(40)]
    docs = _docs(spark, rows)
    slim = {(r["doc_id"], r["source"])
            for r in textqa.temperature_mix_sample(docs, alpha=0.5).collect()}
    full = textqa.temperature_mix_sample(docs, alpha=0.5, full_rows=True)
    assert set(full.columns) == {"doc_id", "text", "source"}
    assert {(r["doc_id"], r["source"]) for r in full.collect()} == slim


def test_gopher_quality_flags_hand_computed(spark):
    """Each Gopher rule verified against hand-computed signal values
    and an independent pure-Python evaluation of the same rules."""
    import re

    from ml4logs_spark.operators import textqa

    rows = [
        (1, "The cat sat on the mat with a dog"),
        (2, "aaa ### bbb ... ccc …"),
        (3, "w1 w2 w3 w4 w5 w6"),
        (4, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r.asDict()
        for r in textqa.gopher_quality_flags(
            docs, min_words=5, min_mean_word_len=2.0, min_stop_hits=2
        ).collect()
    }

    # doc 1: 9 words, mean len 25/9, stopword hits {the, with, a?} ->
    # 'a' not in the Gopher list; distinct hits = {the, with} = 2
    d1 = out[1]
    assert d1["n_words"] == 9
    assert d1["mean_word_len"] == round(25 / 9, 6)
    assert d1["stop_hits"] == 2
    assert d1["alpha_word_frac"] == 1.0
    assert d1["pass_stopwords"] and d1["pass_word_count"]
    assert d1["passes"]

    # doc 2: 6 tokens; symbol matches = 3x'#' + '...' + ellipsis = 5;
    # alpha tokens = {aaa, bbb, ccc} -> 0.5 < 0.8
    d2 = out[2]
    assert d2["n_words"] == 6
    assert d2["symbol_ratio"] == round(5 / 6, 6)
    assert d2["alpha_word_frac"] == 0.5
    assert not d2["pass_symbol_ratio"]
    assert not d2["pass_alpha_words"]
    assert not d2["passes"]

    # doc 3: no stopwords -> fails only the stopword rule
    d3 = out[3]
    assert d3["stop_hits"] == 0 and not d3["pass_stopwords"]
    assert d3["pass_word_count"] and d3["pass_alpha_words"]
    assert not d3["passes"]

    # doc 4 (NULL text): zero everything, fails
    d4 = out[4]
    assert d4["n_words"] == 0 and d4["mean_word_len"] == 0.0
    assert not d4["passes"]

    # independent pure-Python evaluation of every signal
    for doc_id, text in rows:
        toks = [t for t in (text or "").lower().split(" ") if t]
        n = len(toks)
        got = out[doc_id]
        assert got["n_words"] == n
        assert got["mean_word_len"] == round(
            sum(len(t) for t in toks) / max(n, 1), 6
        )
        assert got["symbol_ratio"] == round(
            len(re.findall(r"#|\.\.\.|…", text or "")) / max(n, 1), 6
        )
        assert got["alpha_word_frac"] == round(
            sum(1 for t in toks if re.search("[a-z]", t)) / max(n, 1), 6
        )
        assert got["stop_hits"] == len(
            set(toks) & set(textqa.GOPHER_STOPWORDS)
        )


def test_gopher_quality_flags_default_bounds(spark):
    """Paper-default bounds: a 49-word doc fails the word-count rule,
    a 50-word doc with sane signals passes everything."""
    from ml4logs_spark.operators import textqa

    short = " ".join(["the", "and"] * 24 + ["cat"])          # 49 words
    ok = " ".join(["the", "and"] * 24 + ["cat", "dog"])      # 50 words
    docs = spark.createDataFrame(
        [(1, short), (2, ok)], "doc_id long, text string"
    )
    out = {
        r.doc_id: r.asDict()
        for r in textqa.gopher_quality_flags(docs).collect()
    }
    assert not out[1]["pass_word_count"] and not out[1]["passes"]
    assert out[2]["pass_word_count"]
    # mean word len of ["the","and",...,"cat","dog"] = 3.0 boundary
    assert out[2]["mean_word_len"] == 3.0 and out[2]["pass_mean_word_len"]
    assert out[2]["passes"]


def test_curate_corpus_gopher_stage(spark):
    """curate_corpus(gopher=...) drops rule-failing docs before the
    quality gate, agrees with the gopher_quality_flags report, and
    equals the manual composition (filter on the report's `passes`
    then the rest of the chain)."""
    from ml4logs_spark.operators import curate, textqa

    good = "the cat and the dog sat on the mat with a hat"
    no_stop = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"   # zero Gopher stopwords
    symbols = "the ### cat ... dog … " + "### " * 8  # symbol-heavy
    docs = _docs(spark, [
        (0, good, "a"),
        (1, no_stop, "a"),
        (2, symbols, "a"),
    ])
    bench = _docs(spark, [(99, "zz1 zz2 zz3 zz4", "b")]).drop("source")
    params = dict(min_words=5, min_mean_word_len=2.0, min_stop_hits=1)

    out = curate.curate_corpus(
        docs, bench, min_score=0.0, min_tokens=3, gopher=params
    ).toPandas()
    assert set(out.doc_id) == {0}

    # agrees with the report on the same params
    flags = {
        r.doc_id: r.passes
        for r in textqa.gopher_quality_flags(docs, **params).collect()
    }
    assert flags == {0: True, 1: False, 2: False}

    # equals the manual composition: pre-filter by the report, then
    # run the chain without the gopher stage
    pre = docs.join(
        textqa.gopher_quality_flags(docs, **params)
        .filter("passes").select("doc_id"),
        "doc_id", "left_semi",
    )
    manual = curate.curate_corpus(
        pre, bench, min_score=0.0, min_tokens=3
    ).toPandas()
    got = out.sort_values(["doc_id", "chunk_idx"]).reset_index(drop=True)
    want = manual.sort_values(["doc_id", "chunk_idx"]).reset_index(drop=True)
    assert got.equals(want)


def test_curate_attrition_matches_manual_stage_counts(spark):
    """The one-pass cumulative-flag report equals counting each chain
    stage built from the operators themselves, and its final stage
    equals the docs that actually come out of curate_corpus."""
    from ml4logs_spark.operators import curate, dedup, textqa

    good = "the cat and the dog sat on the mat with a hat"
    docs = _docs(spark, [
        (0, good, "keep"),
        (1, good, "keep"),                              # exact dup
        (2, " ".join(["loop the pair"] * 12), "keep"),  # repetition gate
        (3, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10", "keep"),  # no stopwords
        (4, good + " extra tail words", "drop"),        # mixed out
        (5, "the red fox ran over the old stone bridge today", "keep"),
    ])
    bench = _docs(spark, [(99, "red fox ran over the old", "b")]).drop(
        "source"
    )
    weights = {"keep": "ffff"}
    gop = dict(min_words=5, min_mean_word_len=2.0, min_stop_hits=1)

    rep = {
        r.stage: r.n_docs
        for r in curate.curate_attrition(
            docs, bench, min_score=0.0, min_tokens=3,
            mix_weights=weights, max_dup_bigram_frac=0.5, gopher=gop,
        ).collect()
    }

    mixed = textqa.source_mix_sample(docs, weights)
    dd = dedup.exact_dedup(mixed)
    rep_alive = dd.filter(textqa.dup_bigram_frac_expr("text") <= 0.5)
    gop_alive = rep_alive.filter(textqa.gopher_pass_expr(**gop))
    quality = textqa.quality_filter(
        gop_alive, min_score=0.0, min_tokens=3, keep_cols=("text",)
    ).select("doc_id", "text")
    clean = dedup.decontaminate(quality, bench)
    want = {
        "raw": docs.count(),
        "mixed": mixed.count(),
        "exact_dedup": dd.count(),
        "repetition_gate": rep_alive.count(),
        "gopher_rules": gop_alive.count(),
        "quality_gate": quality.count(),
        "decontaminated": clean.count(),
    }
    assert rep == want
    # every planted failure mode really fires
    assert want["mixed"] == want["raw"] - 1          # doc 4
    assert want["exact_dedup"] == want["mixed"] - 1  # doc 1
    assert want["repetition_gate"] == want["exact_dedup"] - 1  # doc 2
    assert want["gopher_rules"] == want["repetition_gate"] - 1  # doc 3
    assert want["decontaminated"] == want["quality_gate"] - 1  # doc 5

    # final stage == docs actually emitted by the chain
    out_docs = (
        curate.curate_corpus(
            docs, bench, min_score=0.0, min_tokens=3,
            mix_weights=weights, max_dup_bigram_frac=0.5, gopher=gop,
        )
        .select("doc_id").distinct().count()
    )
    assert rep["decontaminated"] == out_docs

    # stage ordering column is 1-based and monotone in the report
    idx = {
        r.stage: r.stage_idx
        for r in curate.curate_attrition(
            docs, bench, mix_weights=weights
        ).collect()
    }
    assert idx["raw"] == 1 and idx["decontaminated"] == 7
