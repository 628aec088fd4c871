"""Component profiler beside the frozen bench.py: one component per
process, on bench.py's session and bucketed input table.

Usage: python tools/profiler.py <component> [reps] [--split]
SPARK_GRAFT_SF_DIR (required) and SPARK_GRAFT_CPUS mean what they mean
for bench.py; run without arguments to list the components.

Default (cold): the component's state is built untimed, then its timed
region runs ``reps`` times (default 1) — bench.py times each region
once per run, so a fresh process charges first-execution costs
(Catalyst planning, codegen compile) the same way. Prints one JSON line
``{"component", "secs", "turns", "extra"}``; ``extra`` carries the
component's result counts (pairs, kept, chunks, purity/recall).

``--split``: warm per-substage timing. Each substage (a telemetry
query, a day-2 dedup step, ...) runs ``reps`` times (default 3) into a
noop sink or a count, and prints its median and runs. Every rep runs
inside ``cache.scope()``, so tracked persists are released between reps.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402  (frozen; reused for ensure_input/force/fixtures)
from ml4logs_spark import cache  # noqa: E402
from ml4logs_spark.datagen import transcripts as tx  # noqa: E402
from ml4logs_spark.operators import (  # noqa: E402
    bpe, classify, curate, dedup, enrich, features, parse, route, similarity,
    textqa, windows,
)
from ml4logs_spark.session import get_spark  # noqa: E402


class Ctx(NamedTuple):
    spark: SparkSession
    sf_dir: str
    turns: DataFrame
    n_parts: int


def _replicated(ctx: Ctx, *cols: str, rep: int | None = None) -> DataFrame:
    """The documents replicated ``rep`` times (default: to ~100k docs)
    under fresh doc ids, each copy's text tagged with its replica."""
    docs = ctx.spark.read.parquet(f"{ctx.sf_dir}/documents.parquet")
    n = docs.count()
    rep = rep or max(1, 100_000 // max(n, 1))
    return (
        docs.crossJoin(ctx.spark.range(rep).withColumnRenamed("id", "rep"))
        .select(
            (F.col("doc_id") + F.col("rep") * F.lit(n)).alias("doc_id"),
            F.concat_ws(" ", "text", F.concat(F.lit("r"), F.col("rep"))).alias("text"),
            *cols,
        )
        .repartition(ctx.n_parts)
    )


def _materialized(*dfs: DataFrame) -> tuple[DataFrame, ...]:
    for df in dfs:
        df.persist().count()
    return dfs


def _conv_split():
    # day-2 conversation split: history < '8' <= new batch
    nib = F.substring(F.md5("conv_id"), 1, 1)
    return nib < F.lit("8"), nib >= F.lit("8")


# ------------------------------------------------------------- components
# Each takes (ctx, split) and returns its substages. The cold run times
# all of them as one region; --split times each. Split-only substages
# are built only under --split: their persists would otherwise serve
# the cold region from cache.

def sft_curate(ctx, split):
    return [("curate_transcripts (full)",
             lambda: curate.curate_transcripts(ctx.turns).count())]


def sft_inc_conv_neardup(ctx, split):
    hist, new = _conv_split()
    hist_docs = dedup.conv_text_docs(ctx.turns.filter(hist))
    bands, store = _materialized(
        dedup.lsh_bands(dedup.minhash_signatures(hist_docs)),
        dedup.shingle_store(hist_docs))
    new_turns = ctx.turns.filter(new)
    full = ("FULL incremental_conv_near_dups",
            lambda: dedup.incremental_conv_near_dups(
                new_turns, bands, store, threshold=0.15).count())
    if not split:
        return [full]
    new_docs = dedup.conv_text_docs(new_turns).persist()
    sigs = dedup.minhash_signatures(new_docs)
    new_bands = dedup.lsh_bands(sigs).persist()
    new_store = dedup.shingle_store(new_docs).persist()
    cands = dedup.incremental_near_dups(new_docs, bands).persist()
    union = store.select("doc_id", "sh_sig").unionByName(
        new_store.join(store.select("doc_id"), "doc_id", "left_anti"))
    verified = dedup.store_jaccard_pairs(union, cands).filter(F.col("jaccard") >= 0.15)
    return [
        ("conv_text_docs(new)", lambda: bench.force(new_docs)),
        ("minhash_signatures(new_docs)", lambda: bench.force(sigs)),
        ("lsh_bands (materialize)", new_bands.count),
        ("shingle_store(new_docs)", new_store.count),
        ("candidates (inc_near_dups)", cands.count),
        ("verify (store_jaccard_pairs)", verified.count),
        full,
    ]


def sft_inc_branch_dedup(ctx, split):
    # positives are constructed: nibble-'0' conversations re-ingested
    # half-length under '-cut' ids
    conv = Window.partitionBy("conv_id")
    base = ctx.turns.select(
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
        (F.row_number().over(conv.orderBy("turn_idx")) - 1).alias("_pos"),
        F.count(F.lit(1)).over(conv).alias("_n"))
    cut = (
        base.filter(F.substring(F.md5("conv_id"), 1, 1) == F.lit("0"))
        .filter(F.col("_pos") < F.floor((F.col("_n") + 1) / 2))
        .select(F.concat(F.col("conv_id"), F.lit("-cut")).alias("conv_id"),
                "turn_idx", "role", "text", "tool", "ts")
    )
    aug = ctx.turns.unionByName(cut)
    hist, new = _conv_split()
    state, frames = _materialized(dedup.conv_prefix_state(aug.filter(hist)),
                                  dedup.conv_frame_store(aug.filter(hist)))
    new_turns = aug.filter(new)
    full = ("FULL incremental_conv_prefix_dups",
            lambda: dedup.incremental_conv_prefix_dups(new_turns, state, frames).count())
    if not split:
        return [full]
    new_state = dedup.conv_prefix_state(new_turns).persist()
    new_frames = dedup.conv_frame_store(new_turns).persist()
    return [("conv_prefix_state(new)", new_state.count),
            ("conv_frame_store(new)", new_frames.count), full]


def telemetry(ctx, split):
    fns = (windows.tool_latency_percentiles, windows.tool_latency_histogram_state,
           windows.daily_health_rollup, windows.daily_health_drift,
           windows.slowest_tool_calls, windows.time_to_first_tool,
           windows.tool_transition_counts, windows.tool_retry_runs,
           windows.tool_error_attribution, windows.conv_endings,
           windows.conv_ending_rollup)
    return [(f.__name__, lambda f=f: bench.force(f(ctx.turns))) for f in fns]


def small(ctx, split):
    turns = ctx.turns
    role_d, tool_d = tx.role_dim(ctx.spark), tx.tool_dim(ctx.spark)
    dim = parse.template_dim(turns).cache()
    dim.count()

    def parsed():
        return parse.parsed_turns(turns, dim)

    return [
        ("parse_assign", lambda: bench.force(
            parsed().select("conv_id", "turn_idx", "template_id"))),
        ("enrich", lambda: bench.force(enrich.enrich(parsed(), role_d, tool_d))),
        ("sink_counts", lambda: bench.force(route.sink_counts(parsed()))),
        ("conv_tool_counts", lambda: bench.force(features.conv_tool_counts(parsed()))),
        ("timedeltas", lambda: bench.force(
            windows.with_timedeltas(turns).select("conv_id", "turn_idx", "td"))),
    ]


def _day2_docs(ctx):
    # docs-side day-2 split: even ids = history, odd ids = the new batch
    (corpus,) = _materialized(_replicated(ctx))
    return (corpus.filter(F.col("doc_id") % 2 == 0),
            corpus.filter(F.col("doc_id") % 2 == 1))


def inc_neardup_docs(ctx, split):
    hist, new_batch = _day2_docs(ctx)
    bands, store = _materialized(
        dedup.lsh_bands(dedup.minhash_signatures(hist)), dedup.shingle_store(hist))
    return [("incremental_near_dup_verified", lambda: {
        "pairs": dedup.incremental_near_dup_verified(new_batch, bands, store).count()})]


def inc_simhash_docs(ctx, split):
    hist, new_batch = _day2_docs(ctx)
    (sigs,) = _materialized(dedup.simhash64(hist))
    return [("incremental_simhash_near_dups", lambda: {
        "pairs": dedup.incremental_simhash_near_dups(new_batch, sigs).count()})]


def _labeled(label: str, op: Callable) -> Callable:
    # a component timing ``op`` over the replicated corpus with sources
    def component(ctx, split):
        (corpus,) = _materialized(_replicated(ctx, "source"))
        return [(label, lambda: op(corpus))]

    return component


def curate_docs(ctx, split):
    corpus = _replicated(
        ctx, rep=int(os.environ.get("SPARK_GRAFT_CURATE_REPLICATE", "200")))
    held_out = ctx.spark.range(1000).select(
        (F.col("id") + 10_000_000).alias("doc_id"),
        F.concat_ws(
            " ", F.lit("heldout"), F.col("id").cast("string"),
            F.lit("evaluation suite probe item"),
            F.concat(F.lit("v"), (F.col("id") % 97).cast("string")),
        ).alias("text"),
    )
    return [("curate_corpus", lambda: {
        "chunks": curate.curate_corpus(corpus, held_out).count()})]


def knn(ctx, split):
    emb = ctx.spark.read.parquet(f"{ctx.sf_dir}/embeddings.parquet")
    clustered = bench._clustered_fixture(ctx.spark).withColumn(
        "label", (F.col("vec_id") % 8).cast("int"))
    return [("knn_label_accuracy", lambda: {
        "acc_iso": similarity.knn_label_accuracy(emb, k=5),
        "acc_clu": similarity.knn_label_accuracy(clustered, k=5)})]


def semdedup(ctx, split):
    emb = ctx.spark.read.parquet(f"{ctx.sf_dir}/embeddings.parquet")
    return [("semantic_dedup_survivors", lambda: {
        "kept": similarity.semantic_dedup_survivors(
            emb, threshold=0.4, n_centroids=64).count()})]


def pq(ctx, split):
    clustered = bench._clustered_fixture(ctx.spark)
    qids = list(range(5))
    kw = dict(m=4, dim=16, ksub=16, n_iters=2, sample_mod=1)

    def run():
        tk = similarity.pq_topk(clustered, query_ids=qids, k=10, **kw).toPandas()
        return {"purity": float(((tk.query_id % 8) == (tk.cand_id % 8)).mean()),
                "recall": similarity.pq_recall(clustered, qids, k=10, **kw)}

    return [("pq_topk + pq_recall", run)]


COMPONENTS = {
    "sft_curate": sft_curate,
    "sft_inc_conv_neardup": sft_inc_conv_neardup,
    "sft_inc_branch_dedup": sft_inc_branch_dedup,
    "telemetry": telemetry,
    "inc_neardup_docs": inc_neardup_docs,
    "inc_simhash_docs": inc_simhash_docs,
    "nb_classify": _labeled("nb_source_classify_split", lambda c: bench.force(
        classify.nb_source_classify_split(c))),
    "perplexity": _labeled("perplexity_buckets", lambda c: bench.force(
        textqa.perplexity_buckets(c))),
    "bpe_fit": _labeled("bpe_fit", lambda c: bpe.bpe_fit(c, n_merges=16).count()),
    "knn": knn,
    "semdedup": semdedup,
    "pq": pq,
    "curate_docs": curate_docs,
    "small": small,
}


def timed(thunk: Callable, reps: int) -> list[float]:
    """Wall seconds of ``reps`` runs, each inside its own cache scope."""
    secs = []
    for _ in range(reps):
        with cache.scope():
            t0 = time.perf_counter()
            thunk()
            secs.append(time.perf_counter() - t0)
    return secs


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--split"]
    split = "--split" in sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not args or args[0] not in COMPONENTS or not sf_dir:
        raise SystemExit("usage: SPARK_GRAFT_SF_DIR=<sf dir> python tools/profiler.py "
                         "<component> [reps] [--split]\n"
                         f"components: {' '.join(COMPONENTS)}")
    which = args[0]
    reps = int(args[1]) if len(args) > 1 else (3 if split else 1)

    os.chdir(REPO)
    cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    n_parts = max(16, 2 * (int(cores) if str(cores).isdigit() else 32))

    spark = get_spark(
        app_name=f"profile_{which}", cores=cores, shuffle_partitions=n_parts,
        extra_conf={
            "spark.sql.catalogImplementation": "hive",
            "spark.sql.warehouse.dir": os.path.join(REPO, ".data", "warehouse"),
        },
    )
    tbl = bench.ensure_input(spark, sf_dir, 1, 64)
    turns = spark.table(tbl)
    n_turns = turns.count()
    stages = COMPONENTS[which](Ctx(spark, sf_dir, turns, n_parts), split)

    if split:
        print(f"table {tbl}: {n_turns} turns, n_parts={n_parts}\n== {which} ==",
              flush=True)
        for label, thunk in stages:
            runs = timed(thunk, reps)
            print(f"  {label:42s} {statistics.median(runs):7.3f}s  "
                  f"(runs: {', '.join(f'{r:.3f}' for r in runs)})", flush=True)
        spark.stop()
        return
    extra: dict = {}

    def run():
        for _, thunk in stages:
            out = thunk()
            extra.update(out if isinstance(out, dict) else {})

    secs = [round(s, 3) for s in timed(run, reps)]
    spark.stop()
    print(json.dumps({"component": which, "secs": secs, "turns": n_turns,
                      "extra": extra}))

if __name__ == "__main__":
    main()
