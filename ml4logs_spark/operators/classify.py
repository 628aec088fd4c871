"""Multinomial naive-Bayes text classification, pure Catalyst.

The token-count NB classifier is the classic fastText-quality-filter
stand-in a curation pipeline trains over its own corpus (GPT-3 / LLaMA
style: score crawl docs by how reference-like their text is; reference
analog: the feature-matrix -> sklearn-classifier handoff in
LogAnalysisTeam/ml4logs src/models/train_model.py — here fit AND apply
stay in-plan instead of exporting matrices to a driver-side library).

All log-likelihoods are fixed to integer MICRO-UNITS (round(ln(x)*1e6)
as bigint) at the model dim, so every downstream sum is an exact,
fold-order-independent bigint — the repo's established determinism
idiom (see similarity.ivf_cell_summary) that keeps the DuckDB oracle
hash-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ml4logs_spark.operators.textqa import token_rows


def nb_fit(
    docs: DataFrame, label_col: str = "source", text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """Fit an add-one-smoothed multinomial NB model on labeled docs.

    Returns ``(loglik, priors)``:
    - ``loglik``: (label, token, ll_micro) — COMPLETE over vocab ×
      labels (unseen (token, label) pairs carry the smoothed floor
      ln(1/(N_k+V))), ll(t,k) = ln((c(t,k)+1)/(N_k+V)) in micro-units;
    - ``priors``: (label, prior_micro) — ln(docs_k / docs_total).

    Tokens are the shared ``textqa.token_rows``; a label whose docs are all
    empty keeps N_k = 0 (prior-only class).

    Shape at scale: one explode feeds the (label, token) counts (hash
    aggregate, map-side combine) and the per-label totals; the complete
    matrix is vocab × a BROADCAST label dim (labels are few) with the
    counts left-joined back on (label, token) — V·K rows, never an
    all-pairs product over docs."""
    from ml4logs_spark import cache

    toks = token_rows(docs, [F.col(label_col).alias("label")], text_col)
    # ONE explode+aggregate pass over the corpus: per-label token
    # totals and the vocabulary both derive from the (label, token)
    # count table (sum of counts == occurrence count; its token support
    # == the token stream's distinct set), where previously each ran
    # its own explode pass over the training text (guide §2.3
    # "aggregate before you shuffle" / §2.4 shared subtree). The count
    # table is V x K rows — vocabulary-bounded, not corpus-bounded —
    # so the tracked persist is small.
    cnt = cache.track(
        toks.groupBy("label", "token").agg(F.count(F.lit(1)).alias("_c"))
    )
    labels = docs.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("_nd")
    )
    ntot = cnt.groupBy("label").agg(F.sum("_c").alias("_nk"))
    vocab = cnt.select("token").distinct()
    vsz = vocab.agg(F.count(F.lit(1)).alias("_v"))
    lab_dim = labels.join(ntot, "label", "left").select(
        "label", F.coalesce("_nk", F.lit(0)).alias("_nk")
    )
    loglik = (
        vocab.crossJoin(F.broadcast(lab_dim))
        .crossJoin(F.broadcast(vsz))
        .join(cnt, ["label", "token"], "left")
        .select(
            "label",
            "token",
            F.round(
                F.log(
                    (F.coalesce("_c", F.lit(0)) + F.lit(1.0))
                    / (F.col("_nk") + F.col("_v"))
                )
                * 1e6,
                0,
            )
            .cast("long")
            .alias("ll_micro"),
        )
    )
    total = labels.agg(F.sum("_nd").alias("_tot"))
    priors = labels.crossJoin(F.broadcast(total)).select(
        "label",
        F.round(F.log(F.col("_nd") / F.col("_tot")) * 1e6, 0)
        .cast("long")
        .alias("prior_micro"),
    )
    return loglik, priors


def nb_classify(
    docs: DataFrame,
    loglik: DataFrame,
    priors: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Score docs under a fitted NB model: argmax_k prior_k + Σ_t
    ll(t,k) over the doc's tokens, OOV tokens (absent from the fit
    vocabulary) dropped — sklearn/fastText convention. Returns
    (doc_id, pred_label, logpost_micro); every input doc keeps a row
    (empty/NULL/all-OOV text predicts the max-prior class), ties break
    to the lexicographically smallest label.

    Shape at scale: explode → broadcast hash join on token against the
    V·K model dim (drop the hint past ~10^8 dim rows and it becomes a
    token-keyed shuffle — the only structural change) → one (doc_id,
    label) partial+final aggregate of exact bigint micro-units → the
    K-row prior dim rides on a broadcast cross join and the argmax is
    a min(struct) hash aggregate, never a sort."""
    ttok = token_rows(docs, ["doc_id"], text_col)
    sums = (
        ttok.join(F.broadcast(loglik), "token")
        .groupBy("doc_id", "label")
        .agg(F.sum("ll_micro").alias("_s"))
    )
    grid = docs.select("doc_id").crossJoin(F.broadcast(priors))
    scored = grid.join(sums, ["doc_id", "label"], "left").select(
        "doc_id",
        "label",
        (F.col("prior_micro") + F.coalesce("_s", F.lit(0))).alias(
            "logpost_micro"
        ),
    )
    best = scored.groupBy("doc_id").agg(
        F.min(
            F.struct(
                (-F.col("logpost_micro")).alias("_neg"),
                F.col("label").alias("_lbl"),
            )
        ).alias("_b")
    )
    return best.select(
        "doc_id",
        F.col("_b._lbl").alias("pred_label"),
        (-F.col("_b._neg")).alias("logpost_micro"),
    )


def nb_confusion(docs: DataFrame, label_col: str = "source") -> DataFrame:
    """Confusion rollup of the split classifier: true label (odd half)
    x predicted label counts — the quality view a pipeline reads to
    decide whether the cheap NB gate is trustworthy per source. Output
    is at most #labels^2 rows; the join back to truth is on doc_id
    (broadcast-able: predictions are one row per scored doc, the
    rollup collapses immediately)."""
    pred = nb_source_classify_split(docs)
    truth = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.col(label_col).alias(label_col)
    )
    return (
        truth.join(pred, "doc_id")
        .groupBy(label_col, "pred_label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def nb_source_classify_split(docs: DataFrame) -> DataFrame:
    """Day-2 framing of the NB classifier: fit on even doc_ids
    (history-as-labeled-set), classify the odd doc_ids — the same
    even/odd split contract as the incremental dedup operators, so
    green-vs-oracle means the fit/apply seam introduces nothing."""
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    loglik, priors = nb_fit(train)
    return nb_classify(test, loglik, priors)
