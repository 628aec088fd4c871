"""Distributed BPE merge learning (Sennrich et al. 2016, public) —
the tokenizer-training step of an LLM data pipeline, run the way real
trainers do: pre-tokenize to words, COUNT word types once, then
iterate on the word-TYPE dim weighted by frequency. The corpus is
scanned exactly once; every merge round touches only the Heaps'-law-
bounded vocabulary frame (10^6-10^8 rows at 100 TB), never the docs.

Reference analog: the fastText/embedding fit steps the reference
shells out for (Makefile fasttext targets) — here the fit stays in
the engine as DataFrame ops with a driver loop only for the argmax
control flow (1 collected row per merge, the same bounded pattern as
the Lloyd iterations in similarity.ivf_fit and drain's fit sample).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ml4logs_spark.operators.textqa import _adjacent, token_rows

# end-of-word sentinel: Sennrich's </w>, one char so it can never be
# confused with a real symbol produced by merging (tokens are
# whitespace-split, so they never contain whitespace or control chars)
EOW = "\x17"


def _merge_pair(sym_col: Column, a: str, b: str) -> Column:
    """Greedy left-to-right non-overlapping replacement of the adjacent
    symbol pair (a, b) with the fused symbol a+b inside one array fold:
    'aaa' under merge (a,a) becomes ['aa','a'], exactly the classic BPE
    apply. Pure Catalyst (F.aggregate) — no UDF."""
    fused = a + b
    return F.aggregate(
        sym_col,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.lit(fused)),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def word_type_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The one corpus pass: (word, n) frequency dim over the shared
    ``textqa.token_rows`` tokens, plus the initial character-symbol
    split with the end-of-word sentinel appended."""
    words = token_rows(docs, (), text_col).groupBy(
        F.col("token").alias("word")
    ).agg(F.count(F.lit(1)).alias("n"))
    syms = F.concat(
        F.split(F.col("word"), ""), F.array(F.lit(EOW))
    )
    return words.select("word", "n", syms.alias("syms"))


def bpe_fit(
    docs: DataFrame, n_merges: int = 32, text_col: str = "text"
) -> DataFrame:
    """Learn ``n_merges`` BPE merges over the corpus. Returns
    (merge_rank, tok_a, tok_b, pair_count) in learned order, stopping
    early if no adjacent pair occurs twice (pair_count >= 2 guard —
    merging hapax pairs is pure noise).

    Determinism: the winning pair each round is max by (weighted count
    DESC, tok_a ASC, tok_b ASC) — a total order, so the learned merge
    table is independent of partitioning and fold order (counts are
    exact bigints).

    Shape at scale: the corpus contributes ONE explode + word hash
    aggregate; each merge round is (a) one pair-explode (the
    ``textqa._adjacent`` pairs of the symbol arrays) + hash aggregate
    over the word-type frame and (b) a map-side fold
    rewriting the symbol arrays — both bounded by vocabulary size, not
    corpus size. The per-round driver collect is the 1-row argmax
    (control flow, same bounded pattern as similarity's Lloyd rounds);
    lineage is truncated with localCheckpoint every ``_CKPT_EVERY``
    rounds — checkpointing each round cost one extra job + fresh plan
    per merge (a large share of the fit wall at 16 merges), while a
    4-deep chain of map-side folds keeps the plan shallow and the
    rewrites compose to the identical symbol arrays."""
    if n_merges <= 0:
        raise ValueError(f"n_merges must be positive, got {n_merges}")
    _CKPT_EVERY = 4
    types = word_type_counts(docs, text_col).localCheckpoint()
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        best = (
            types.select("n", F.inline(_adjacent(F.col("syms"))))
            .groupBy("tok_a", "tok_b")
            .agg(F.sum("n").alias("cnt"))
            .orderBy(F.desc("cnt"), "tok_a", "tok_b")
            .limit(1)
            .collect()
        )
        if not best or best[0]["cnt"] < 2:
            break
        a, b, cnt = best[0]["tok_a"], best[0]["tok_b"], int(best[0]["cnt"])
        merges.append((rank, a, b, cnt))
        types = types.withColumn("syms", _merge_pair(F.col("syms"), a, b))
        if (rank + 1) % _CKPT_EVERY == 0:
            types = types.localCheckpoint()
    return docs.sparkSession.createDataFrame(
        merges, "merge_rank int, tok_a string, tok_b string, pair_count long"
    )


def bpe_encode(
    docs: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    doc_id_col: str = "doc_id",
) -> DataFrame:
    """Apply a learned merge table: returns (doc_id, n_words, n_pieces)
    — the compression diagnostic (pieces per word) a tokenizer sweep
    reads to pick n_merges. Merges are collected to the driver (the
    model is n_merges rows — bounded by construction) and applied in
    rank order as chained map-side folds; the corpus never shuffles.
    For long merge tables chain in groups via localCheckpoint-free
    select stages (Catalyst handles ~10^2 chained folds; past that,
    encode belongs in an Arrow UDF — documented seam)."""
    ranked = sorted(
        ((r["merge_rank"], r["tok_a"], r["tok_b"]) for r in merges.collect())
    )
    words = token_rows(docs, [F.col(doc_id_col).alias("doc_id")], text_col)
    syms = F.concat(F.split(F.col("token"), ""), F.array(F.lit(EOW)))
    out = words.select("doc_id", syms.alias("syms"))
    for _, a, b in ranked:
        out = out.select(
            "doc_id", _merge_pair(F.col("syms"), a, b).alias("syms")
        )
    per_word = out.select("doc_id", F.size("syms").alias("_pieces"))
    return (
        per_word.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("_pieces").cast("long").alias("n_pieces"),
        )
        .join(docs.select(F.col(doc_id_col).alias("doc_id")), "doc_id", "right")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).alias("n_words"),
            F.coalesce("n_pieces", F.lit(0)).alias("n_pieces"),
        )
    )
