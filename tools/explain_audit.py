"""Physical-plan audit: assert the plans we'd want at 100 TB.

Runs against a *materialized* transcripts table (the pipeline's real
input shape — the in-flight derivation exists only because the sandbox
testdata lacks a transcripts table and adds its own window exchange).

Checks:
- column pruning reached the parquet scan (ReadSchema narrow);
- predicate pushdown (PushedFilters populated on filtered scans);
- dim joins are BroadcastHashJoin, never SortMergeJoin;
- aggregations are partial+final HashAggregate (map-side combine);
- vectorized scans (Batched: true);
- window features cost exactly one hash exchange.

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

    from ml4logs_spark.session import get_spark
    from ml4logs_spark.datagen import transcripts as tx
    from ml4logs_spark.operators import enrich as enrich_op
    from ml4logs_spark.operators import features as feat
    from ml4logs_spark.operators import parse, windows

    spark = get_spark(cores=4, shuffle_partitions=8,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    audit_dir = ".data/audit"
    if not os.path.exists(f"{audit_dir}/transcripts.parquet"):
        tx.materialize(spark, sf_dir, audit_dir)
    t = tx.read_materialized(spark, audit_dir)
    failures = []
    n_checks = 0

    def check(name, cond, detail=""):
        nonlocal n_checks
        n_checks += 1
        print(("PASS " if cond else "FAIL ") + name + (f"  [{detail}]" if detail and not cond else ""))
        if not cond:
            failures.append(name)

    # 1. template_dim: dim-side scan reads only `text`; partial+final agg
    p = plan_of(parse.template_dim(t))
    check("template_dim: scan pruned to text", "ReadSchema: struct<text:string>" in p)
    check("template_dim: partial+final HashAggregate", p.count("HashAggregate") >= 2)
    check("template_dim: vectorized scan", "Batched: true" in p)

    # 2. parsed_turns: broadcast join, no sort-merge
    p = plan_of(parse.parsed_turns(t))
    check("parsed_turns: BroadcastHashJoin", "BroadcastHashJoin" in p)
    check("parsed_turns: no SortMergeJoin", "SortMergeJoin" not in p)

    # 3. enrich: every dim join broadcast
    e = enrich_op.enrich(parse.parsed_turns(t), tx.role_dim(spark), tx.tool_dim(spark))
    p = plan_of(e)
    check("enrich: all joins broadcast", p.count("BroadcastHashJoin") >= 3 and "SortMergeJoin" not in p)

    # 4. counts: one fact-side shuffle (partial agg -> exchange -> final).
    # The dim is cached so its own tiny build exchange drops out of the
    # plan, isolating the fact-table cost.
    dim = parse.template_dim(t).cache()
    dim.count()
    p = plan_of(feat.conv_tool_counts(parse.parsed_turns(t, dim)))
    # InMemoryRelation's stored child-plan text re-lists the dim build;
    # only exchanges above it are live operators.
    live = p.split("InMemoryRelation")[0]
    n_exchange = live.count("Exchange hashpartitioning")
    check("conv_tool_counts: single fact-side shuffle", n_exchange == 1, f"exchanges={n_exchange}")

    # 5. window features: exactly one conv_id exchange
    p = plan_of(windows.with_timedeltas(t).select("conv_id", "turn_idx", "td"))
    check("timedeltas: single window exchange",
          p.count("Exchange hashpartitioning") == 1)
    check("timedeltas: scan pruned to 3 cols",
          "ReadSchema: struct<conv_id:string,turn_idx:int,ts:timestamp>" in p)

    # 6. conv_offsets: distributed prefix sum — the data-proportional
    # window must be partitioned (by the range-partition id); the ONLY
    # single-partition stage allowed is the per-partition-totals side,
    # whose row count is #partitions, not #convs.
    p = plan_of(windows.conv_offsets(t))
    check("conv_offsets: range repartition present", "rangepartitioning(conv_id" in p)
    check("conv_offsets: big window partitioned by _pid",
          "windowspecdefinition(_pid" in p)
    n_single = p.count("Exchange SinglePartition")
    check("conv_offsets: single-partition stages only for partition totals",
          n_single <= 1, f"SinglePartition exchanges={n_single}")
    check("conv_offsets: base joined broadcast", "BroadcastHashJoin" in p)

    # 7. embedding production: map-only Arrow UDF — zero exchanges
    from ml4logs_spark.operators import encode
    p = plan_of(encode.turn_embeddings(t))
    check("turn_embeddings: Arrow-batched python eval",
          "ArrowEvalPython" in p or "MapInPandas" in p)
    check("turn_embeddings: map-only (no exchange)", "Exchange" not in p)

    # 8. array max-pool: partial+final hash agg, one shuffle of pooled
    # rows (never the exploded elements)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    p = plan_of(feat.array_maxpool(emb, "label", "embedding", dim=64))
    check("array_maxpool: partial+final HashAggregate", p.count("HashAggregate") >= 2)
    check("array_maxpool: no explode before the shuffle", "Generate" not in p)
    check("array_maxpool: single shuffle",
          p.count("Exchange hashpartitioning") == 1)

    # 8b. ANN paths: candidate generation must never be an unbounded
    # cartesian product — LSH pairs equi-join on buckets; IVF's only
    # nested-loop is the broadcast of the tiny codebook/probes.
    from ml4logs_spark.operators import similarity
    p = plan_of(similarity.embedding_near_dups(emb, threshold=0.3))
    check("embedding_near_dups: no cartesian product", "CartesianProduct" not in p)
    p = plan_of(similarity.ivf_topk(emb, query_ids=[0, 1], k=5))
    check("ivf_topk: no cartesian product", "CartesianProduct" not in p)
    check("ivf_topk: codebook joins broadcast", "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p)

    # 8c. simhash64 family: signature is map-only; banded candidate
    # generation is an equi-join on (band, chunk) — never a cartesian.
    from ml4logs_spark.operators import dedup
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # the exploded-token hash aggregate keeps partial aggregation
    # map-side: exactly ONE doc_id exchange carrying ~65 ints per doc,
    # with HashAggregate below AND above it (partial+final).
    p = plan_of(dedup.simhash64(docs))
    check("simhash64: single doc_id exchange",
          p.count("Exchange hashpartitioning") == 1)
    check("simhash64: partial+final HashAggregate",
          p.count("HashAggregate") >= 2)
    p = plan_of(dedup.simhash_near_dups(docs))
    check("simhash_near_dups: no cartesian product",
          "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p)
    check("simhash_near_dups: bucket equi-join",
          "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p)

    # 8d. trained IVF fit: per-(cell, pos) means are partial+final hash
    # aggregates; the only nested loop is the broadcast tiny codebook.
    p = plan_of(similarity.fit_ivf_codebook(emb))
    check("fit_ivf_codebook: partial+final HashAggregate",
          p.count("HashAggregate") >= 2)
    check("fit_ivf_codebook: no cartesian product", "CartesianProduct" not in p)

    # 8d'. product quantization: encode scores the exploded corpus
    # against the BROADCAST (m x ksub)-row codebook — an equi-join on
    # sub, never a cartesian — and aggregates by hash, never a
    # corpus-wide window sort.
    p = plan_of(similarity.pq_encode(
        emb, m=4, dim=16, ksub=8, n_iters=1, sample_mod=1))
    check("pq_encode: codebook join broadcast", "BroadcastHashJoin" in p)
    check("pq_encode: no cartesian product", "CartesianProduct" not in p)
    check("pq_encode: no corpus window sort", "Window" not in p)
    check("pq_encode: partial+final HashAggregate",
          p.count("HashAggregate") >= 2)

    # 8d''. incremental span dedup: the store probe is an ANTI join on
    # the hash key (the historical corpus text never enters the plan),
    # candidate selection is the span_dedup min-aggregate — no
    # cartesian anything, no window sort.
    p = plan_of(dedup.incremental_span_dedup(
        docs, dedup.block_store(docs.limit(10))))
    check("incremental_span_dedup: anti-join store probe",
          "LeftAnti" in p)
    check("incremental_span_dedup: no cartesian product",
          "CartesianProduct" not in p)
    check("incremental_span_dedup: no corpus window sort",
          "Window" not in p)
    check("incremental_span_dedup: partial+final HashAggregate",
          p.count("HashAggregate") >= 2)

    # 8e. curation ops: quality filter and hash sampling are map-only
    # (filter fuses into the scan); decontamination is a broadcast
    # shingle equi-join, never a cartesian.
    from ml4logs_spark.operators import textqa
    p = plan_of(textqa.quality_filter(docs))
    check("quality_filter: map-only (no exchange)", "Exchange" not in p)
    p = plan_of(textqa.hash_sample(docs))
    check("hash_sample: map-only (no exchange)", "Exchange" not in p)
    # the Gopher rule set rides the scan for free: pure projection,
    # no explode, no exchange
    p = plan_of(textqa.gopher_quality_flags(docs))
    check("gopher_quality_flags: map-only (no exchange)",
          "Exchange" not in p)
    check("gopher_quality_flags: no explode", "Generate" not in p)
    p = plan_of(textqa.build_vocab(docs))
    check("build_vocab: partial+final HashAggregate",
          p.count("HashAggregate") >= 2)
    # token-id ranking must be the distributed two-phase form: the
    # vocabulary-sized window partitioned by the range-partition id,
    # never a single-partition sort over the whole vocab (the only
    # SinglePartition stage allowed is the #partitions-row totals side)
    check("build_vocab: range repartition on token",
          "rangepartitioning(token" in p)
    check("build_vocab: vocab window partitioned by _pid",
          "windowspecdefinition(_pid" in p)
    # allowed SinglePartition stages: the 1-row n_docs scalar aggregate
    # (partial+final, so the single task receives #tasks rows) and the
    # #partitions-row totals window. Cached subtrees re-print the same
    # operator (same plan_id) in several places, so count DISTINCT
    # plan_ids — a regression to a vocab-sized single-partition sort
    # would add a third distinct SinglePartition exchange and fail.
    import re as _re

    single_ids = set(_re.findall(
        r"Exchange SinglePartition[^\[\n]*\[plan_id=(\d+)\]", p))
    check("build_vocab: no single-partition stage over the vocab",
          len(single_ids) <= 2, f"SinglePartition plan_ids={sorted(single_ids)}")
    # perplexity tiers: same two-phase ranking contract as build_vocab
    # — range repartition on (source, key), corpus-sized window keyed by
    # _pid, and the only SinglePartition stages are the 1-row LM
    # normalizer scalars (the per-source base-offset window partitions
    # by source, so it never appears as SinglePartition)
    p = plan_of(textqa.perplexity_buckets(docs))
    check("perplexity_buckets: range repartition on (source, key)",
          "rangepartitioning(source" in p)
    check("perplexity_buckets: rank window partitioned by _pid",
          "windowspecdefinition(_pid" in p)
    single_ids = set(_re.findall(
        r"Exchange SinglePartition[^\[\n]*\[plan_id=(\d+)\]", p))
    check("perplexity_buckets: no single-partition stage over the docs",
          len(single_ids) <= 2, f"SinglePartition plan_ids={sorted(single_ids)}")

    # batch-6 diagnostics: KL terms join broadcast stat dims (the only
    # nested loop is the 1-row corpus total); novelty is pair-keyed
    # equi-joins — neither may produce a cartesian product
    p = plan_of(textqa.source_kl_divergence(docs))
    check("source_kl: no cartesian product", "CartesianProduct" not in p)
    p = plan_of(textqa.bigram_novelty(docs))
    check("bigram_novelty: no cartesian product", "CartesianProduct" not in p)

    # transcript cleaning: ONE conv_id window exchange, map-side filter
    from ml4logs_spark.operators import windows as win_op
    p = plan_of(win_op.dedup_consecutive_turns(t))
    check("dedup_consecutive_turns: single exchange",
          p.count("Exchange hashpartitioning") == 1)

    # conversation packing: the two-phase contract (range partition on
    # conv_id, window keyed by _pid, totals-only single-partition)
    p = plan_of(win_op.pack_conversations(t))
    check("pack_conversations: range repartition on conv_id",
          "rangepartitioning(conv_id" in p)
    check("pack_conversations: prefix window partitioned by _pid",
          "windowspecdefinition(_pid" in p)
    single_ids = set(_re.findall(
        r"Exchange SinglePartition[^\[\n]*\[plan_id=(\d+)\]", p))
    check("pack_conversations: no single-partition stage over convs",
          len(single_ids) <= 1, f"SinglePartition plan_ids={sorted(single_ids)}")

    # NB classifier: the V*K model dim rides back as a broadcast hash
    # join; the only nested loops are broadcasts of the label-count /
    # vocab-size scalars — never a cartesian product over docs
    from ml4logs_spark.operators import classify
    p = plan_of(classify.nb_source_classify_split(docs))
    check("nb_classify: no cartesian product", "CartesianProduct" not in p)
    check("nb_classify: model dim broadcast", "BroadcastHashJoin" in p)
    check("nb_classify: partial+final micro-unit aggregate",
          p.count("HashAggregate") >= 2)

    from pyspark.sql import functions as FF
    nib = FF.substring(FF.md5("text"), 1, 1)
    p = plan_of(dedup.decontaminate(docs.filter(nib != "0"), docs.filter(nib == "0")))
    check("decontaminate: no cartesian product",
          "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p)
    check("decontaminate: benchmark side broadcast", "BroadcastHashJoin" in p)
    p = plan_of(dedup.contamination_report(docs.filter(nib != "0"), docs.filter(nib == "0")))
    check("contamination_report: benchmark side broadcast",
          "BroadcastHashJoin" in p and "CartesianProduct" not in p)
    from ml4logs_spark.operators import curate
    nib = FF.substring(FF.md5("text"), 1, 1)
    p = plan_of(curate.curate_corpus(docs.filter(nib != "0"), docs.filter(nib == "0")))
    check("curate_corpus: no cartesian product", "CartesianProduct" not in p)
    check("curate_corpus: gated frame cached once (diamond branch reuse)",
          "InMemoryTableScan" in p)

    # 8f. data mixing: weight dim broadcast, corpus side never shuffles
    p = plan_of(textqa.source_mix_sample(docs, {"src0": "80", "src1": "40"}))
    check("source_mix_sample: weight dim broadcast", "BroadcastHashJoin" in p)
    check("source_mix_sample: corpus side map-only",
          "Exchange hashpartitioning" not in p)
    # 8g2. span dedup: block explode is map-side; winner selection is a
    # partial+final min aggregate on the uniform block hash; reassembly
    # shuffles once on doc_id — no cartesian, no single-partition stage.
    p = plan_of(dedup.span_dedup(docs))
    check("span_dedup: no cartesian product",
          "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p)
    check("span_dedup: partial+final HashAggregate",
          p.count("HashAggregate") >= 2)
    check("span_dedup: no single-partition stage",
          "Exchange SinglePartition" not in p)
    # 8g3. per-source top-ngrams: min_count prunes before the ranking
    # window, and the window is partitioned by source (never global)
    p = plan_of(textqa.top_ngrams_per_source(docs))
    check("top_ngrams: window partitioned by source",
          "windowspecdefinition(source" in p)
    check("top_ngrams: no single-partition stage",
          "Exchange SinglePartition" not in p)
    # 8g5. stream packing (r5): the global prefix sum must be the
    # two-phase distributed form — range repartition on the chunk key,
    # offset window partitioned by _pid, the only SinglePartition
    # exchange the #partitions-row totals side (distinct plan_ids,
    # cached subtrees reprint), bases broadcast back.
    ch = textqa.chunk_documents(docs, chunk_tokens=16, overlap=4)
    p = plan_of(textqa.pack_sequences(ch))
    check("pack_sequences: range repartition on (doc_id, chunk_idx)",
          "rangepartitioning(doc_id" in p)
    check("pack_sequences: offset window partitioned by _pid",
          "windowspecdefinition(_pid" in p)
    single_ids = set(_re.findall(
        r"Exchange SinglePartition[^\[\n]*\[plan_id=(\d+)\]", p))
    check("pack_sequences: no single-partition stage over the chunks",
          len(single_ids) <= 1, f"SinglePartition plan_ids={sorted(single_ids)}")
    check("pack_sequences: base offsets broadcast",
          "BroadcastHashJoin" in p)
    check("pack_sequences: no cartesian product",
          "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p)
    # 8g6. boilerplate removal (r5): block explode map-side, ONE
    # distinct-count aggregate on the uniform block hash, anti-join
    # against the small frequent set, per-doc reassembly — no cartesian,
    # no single-partition stage.
    p = plan_of(dedup.boilerplate_span_filter(docs))
    check("boilerplate_span_filter: no cartesian product",
          "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p)
    check("boilerplate_span_filter: partial+final HashAggregate",
          p.count("HashAggregate") >= 2)
    check("boilerplate_span_filter: no single-partition stage",
          "Exchange SinglePartition" not in p)
    # 8g7. dataset split: pure projection, fuses into the scan
    p = plan_of(textqa.dataset_split(docs))
    check("dataset_split: map-only (no exchange)", "Exchange" not in p)
    # 8g8. int8 quantization (r5): the only corpus shuffle is the
    # dim-sized fit aggregate (partial+final, map-side combine); the
    # (los, his) parameter row rides as a broadcast 1-row nested-loop
    # dim (the features.py stat-dim pattern), and code emission is a
    # codegen'd transform — no hashpartition exchange of the vectors.
    from ml4logs_spark.operators import similarity as sim
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    p = plan_of(sim.quantize_embeddings(emb))
    check("quantize: partial+final fit aggregate",
          p.count("HashAggregate") >= 2)
    check("quantize: params broadcast (1-row stat dim)",
          "BroadcastNestedLoopJoin" in p and "CartesianProduct" not in p)
    check("quantize: corpus vectors never hash-shuffled",
          "Exchange hashpartitioning(vec_id" not in p)
    # 8g9. vocab coverage: vocab rides as a broadcast join dim; one
    # doc_id aggregate; tokenless docs restored by a second broadcast
    # (doc-keyed) join — no single-partition stage. Audited over a
    # literal vocab frame so only THIS operator's plan is asserted
    # (build_vocab's own 1-row threshold BNLJ is audited separately
    # at 8f and would otherwise show through the composed plan).
    voc = spark.createDataFrame([("the",), ("a",)], "token string")
    p = plan_of(textqa.vocab_coverage(docs, voc))
    check("vocab_coverage: vocab broadcast", "BroadcastHashJoin" in p)
    check("vocab_coverage: no cartesian product",
          "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p)
    # 8g10. kNN label vote (r5): the seed set collapses to a single
    # broadcast row of structs (the quantizer-params pattern), so the
    # corpus side is map-only — the only corpus-frame exchange is the
    # seed-side collect into the 1-row dim; the classified vectors are
    # never hash-shuffled and never windowed.
    p = plan_of(sim.knn_label_vote(emb, k=5))
    check("knn_label_vote: seeds broadcast (1-row dim)",
          "BroadcastNestedLoopJoin" in p and "CartesianProduct" not in p)
    check("knn_label_vote: corpus never hash-shuffled",
          "Exchange hashpartitioning(vec_id" not in p)
    check("knn_label_vote: no per-query window sort", "Window" not in p)
    # 8g11. temperature mixing (r5): one partial+final count aggregate
    # keyed by source builds the rate dim (plus its 1-row min dim);
    # the apply side joins the rate dim broadcast — the corpus is
    # never repartitioned for the sample itself.
    p = plan_of(textqa.temperature_mix_sample(docs, alpha=0.75))
    check("temperature_mix: rate dim via partial+final agg",
          p.count("HashAggregate") >= 2)
    check("temperature_mix: rates broadcast to the corpus",
          "BroadcastHashJoin" in p)
    check("temperature_mix: single fit-side source exchange (one corpus scan)",
          len(re.findall(r"Exchange hashpartitioning\(source", p)) == 1)
    # 8g12. embedding decontamination (r5): candidates are a (band,
    # sig) equi-join with the BENCHMARK side broadcast (eval sets are
    # small), verify joins the benchmark vectors broadcast too — the
    # corpus never enters a cross product and never shuffles into the
    # candidate join.
    from pyspark.sql import functions as Fx
    nib = Fx.substring(Fx.md5(Fx.col("vec_id").cast("string")), 1, 1)
    p = plan_of(sim.embedding_decontaminate(
        emb.filter(nib != "0"), emb.filter(nib == "0")))
    check("embedding_decon: no cartesian product",
          "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p)
    check("embedding_decon: benchmark side broadcast",
          p.count("BroadcastExchange") >= 2)
    # 8g13. IVF cell summary (r5): assignment + member stats fuse into
    # ONE N x k aggregate against the broadcast codebook (no corpus
    # self-join); the cell-keyed rollups run on codebook-sized frames.
    # Audited with a LITERAL codebook (the vocab_coverage isolation
    # trick) so only this operator's stages are asserted — the Lloyd
    # fit has its own vec_id exchanges, audited at 8d. Distinct
    # plan_id counting per the cached-subtree reprint gotcha: asg is a
    # tracked diamond, so its exchange prints once per consumer with
    # the SAME plan_id.
    cbk = spark.createDataFrame(
        [(0, [1.0] + [0.0] * 63), (1, [0.0, 1.0] + [0.0] * 62)],
        "cent_id long, centvec array<double>",
    )
    p = plan_of(sim.ivf_cell_summary(emb, codebook=cbk))
    check("ivf_cell_summary: no cartesian product",
          "CartesianProduct" not in p)
    n_vexch = len(set(re.findall(
        r"Exchange hashpartitioning\(vec_id[^\n]*\[plan_id=(\d+)\]", p)))
    check("ivf_cell_summary: one fused assignment aggregate",
          n_vexch == 1, f"distinct vec_id exchanges={n_vexch}")
    check("ivf_cell_summary: partial+final aggregates",
          p.count("HashAggregate") >= 2)
    # 8g14. day-2 embedding near-dups (r5): the new batch BROADCASTS
    # into the band-state probe and into the dequantized-history
    # verify (a day's batch is small against history — history itself
    # never re-shuffles as a build side), and candidate generation
    # stays equi-join shaped.
    hist_e = emb.filter("vec_id % 2 = 0")
    new_e = emb.filter("vec_id % 2 = 1")
    qf = sim.fit_quantizer(hist_e)
    p = plan_of(sim.incremental_embedding_near_dups(
        new_e,
        band_state=sim.band_signatures(hist_e, n_planes=8, n_bands=4, dim=64),
        code_state=sim.quantize_embeddings(hist_e, qf),
        quant=qf,
    ))
    check("incr_embedding: no cartesian product", "CartesianProduct" not in p)
    check("incr_embedding: new batch broadcast into state probes",
          p.count("BroadcastExchange") >= 2)
    # 8g15. SemDeDup (r5): pair generation is an equi-join on the cell
    # id — candidate volume bounded by codebook granularity, never
    # all-pairs. Literal codebook isolates the operator's own plan.
    p = plan_of(sim.semantic_dedup_survivors(emb, codebook=cbk))
    check("semantic_dedup: no cartesian product",
          "CartesianProduct" not in p)
    check("semantic_dedup: cell equi-join pair generation",
          "SortMergeJoin" in p or "ShuffledHashJoin" in p
          or "BroadcastHashJoin" in p)
    # 8g16. conversation-level dedup (r5): one conv_id shuffle for the
    # canonical-hash aggregate (partial+final collect merge), the
    # keep-min aggregate runs on conv-count rows, and the survivors
    # semi-join back on conv_id — turn texts travel once.
    p = plan_of(dedup.conv_dedup_survivors(t))
    check("conv_dedup: no cartesian product",
          "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p)
    check("conv_dedup: partial+final aggregates",
          p.count("HashAggregate") >= 2 or p.count("ObjectHashAggregate") >= 2
          or p.count("SortAggregate") >= 2)

    # 8g16b. day-2 conversation dedup (r5 continuation): the state
    # probe is an ANTI join on the never-NULL digest key (historical
    # turn text never enters the plan), the batch hashes in one
    # partial+final conv_id aggregate — no cross product anywhere.
    from pyspark.sql import functions as _Fc
    _cnib = _Fc.substring(_Fc.md5("conv_id"), 1, 1)
    p = plan_of(dedup.incremental_conv_dedup(
        t.filter(_cnib >= "8"),
        dedup.conv_hashes(t.filter(_cnib < "8")).select("conv_hash")))
    check("incremental_conv_dedup: anti-join state probe",
          "LeftAnti" in p)
    check("incremental_conv_dedup: no cartesian product",
          "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p)
    check("incremental_conv_dedup: partial+final aggregates",
          p.count("HashAggregate") >= 2 or p.count("ObjectHashAggregate") >= 2
          or p.count("SortAggregate") >= 2)

    # 8g17. transcript curation chain (r5 continuation): dedup ->
    # stutter strip -> gate -> packing as one plan. No cross products
    # anywhere; the packing prefix sum keeps the two-phase contract
    # (range repartition on conv_id, offset window keyed by _pid, the
    # only SinglePartition stage the #partitions-row totals side); the
    # two diamond nodes (cleaned turns, gated turns) are tracked
    # persists so the scan + dedup shuffle never replays.
    from ml4logs_spark import cache as _cc
    _cc.release_all()
    p = plan_of(curate.curate_transcripts(t))
    _cc.release_all()
    check("curate_transcripts: no cartesian product",
          "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p)
    check("curate_transcripts: diamond nodes cached",
          "InMemoryTableScan" in p)
    check("curate_transcripts: packing range repartition on conv_id",
          "rangepartitioning(conv_id" in p)
    check("curate_transcripts: offset window partitioned by _pid",
          "windowspecdefinition(_pid" in p)
    single_ids = set(_re.findall(
        r"Exchange SinglePartition[^\[\n]*\[plan_id=(\d+)\]", p))
    check("curate_transcripts: no single-partition stage over convs",
          len(single_ids) <= 1, f"SinglePartition plan_ids={sorted(single_ids)}")

    # 8g. near-dup clustering: pair generation + every propagation round
    # stays equi-join shaped (the fixpoint loop reuses this same plan)
    p = plan_of(dedup.near_dups(docs))
    check("near_dups: no cartesian product",
          "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p)
    # 8g4. incremental simhash (r5): new-vs-state and new-vs-new are
    # both (band, chunk) equi-joins over the banded signatures — never
    # a cross product — and the signature aggregate keeps its map-side
    # partial combine across the batch boundary.
    hist_sigs = dedup.simhash64(docs.filter("doc_id % 2 = 0"))
    p = plan_of(dedup.incremental_simhash_near_dups(
        docs.filter("doc_id % 2 = 1"), hist_sigs))
    check("incremental_simhash: no cartesian product",
          "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p)
    check("incremental_simhash: partial+final HashAggregate",
          p.count("HashAggregate") >= 2)
    check("incremental_simhash: no single-partition stage",
          "Exchange SinglePartition" not in p)
    # 8g5. max_quality survivor policy (r5): the per-cluster argmax is a
    # max_by hash aggregate over the clustered set — no window function
    # over the corpus, no single-partition stage, quality scored only
    # after a semi-join prunes to cluster members.
    p = plan_of(dedup.near_dup_survivors(docs, 0.8, keep="max_quality"))
    check("survivors(max_quality): no corpus window",
          "windowspecdefinition" not in p)
    check("survivors(max_quality): argmax via max_by aggregate",
          "max_by" in p)
    check("survivors(max_quality): no single-partition stage",
          "Exchange SinglePartition" not in p)
    check("survivors(max_quality): cluster members semi-joined",
          "LeftSemi" in p)
    # 8g6. curate chain with the r5 in-plan stages ON. Distinct-plan_id
    # exchange counting (cached subtrees REPRINT operators — raw
    # occurrence counts are vacuous). The repetition gate is a pure
    # map-side filter: it must add ZERO exchanges. The mix must ride as
    # a broadcast dim and never hash-partition the corpus on source
    # (its raw exchange count legitimately differs from base: the
    # changed size estimates flip the dedup semi-join from a toy-scale
    # broadcast to the SortMergeJoin it would be at 100 TB anyway, so
    # an equality comparison against base would assert the wrong thing).
    import re as _re

    def _xids(plan: str) -> set[str]:
        return set(_re.findall(
            r"Exchange hashpartitioning\([^\[]*\[plan_id=(\d+)\]", plan))

    from ml4logs_spark.operators import curate, textqa as tq
    from ml4logs_spark import cache as _c

    bmark = docs.limit(5)
    base_p = plan_of(curate.curate_corpus(docs, bmark))
    _c.release_all()
    rep_p = plan_of(curate.curate_corpus(docs, bmark, max_dup_bigram_frac=0.5))
    _c.release_all()
    mix_p = plan_of(curate.curate_corpus(docs, bmark, mix_weights=tq.MIX_WEIGHTS))
    _c.release_all()
    check("curate(+repetition): gate adds zero exchanges",
          len(_xids(rep_p)) == len(_xids(base_p)),
          f"base={len(_xids(base_p))} rep={len(_xids(rep_p))}")
    check("curate(+mix): weight dim broadcast", "BroadcastHashJoin" in mix_p)
    check("curate(+mix): corpus never partitions on source",
          "hashpartitioning(source" not in mix_p)
    check("curate(+mix): no cartesian product",
          "CartesianProduct" not in mix_p)
    # temperature variant: the rate FIT may hash-partition its tiny
    # partial-aggregated counts on source, but the CURATED corpus side
    # still joins the rate dim broadcast and never cross-products.
    alpha_p = plan_of(curate.curate_corpus(docs, bmark, mix_alpha=0.75))
    _c.release_all()
    check("curate(+mix_alpha): rate dim broadcast",
          "BroadcastHashJoin" in alpha_p)
    check("curate(+mix_alpha): no cartesian product",
          "CartesianProduct" not in alpha_p)
    # distinct plan_id counting (cached-subtree reprint gotcha): the
    # tracked rate dim prints its fit exchange once per consumer with
    # the SAME plan_id — one real fit pass.
    check("curate(+mix_alpha): single fit-side source exchange",
          len(set(re.findall(
              r"Exchange hashpartitioning\(source[^\n]*plan_id=(\d+)",
              alpha_p))) == 1)

    # 8b. conv_prefix_dups: the prefix-hash window must be a streaming
    # O(1)-state pass (RunningWindowFunction / no per-row collect_list
    # running array), candidates an equi-join (no cartesian product),
    # and no single-partition stage anywhere.
    from ml4logs_spark.operators import dedup as _dd

    pp = plan_of(_dd.conv_prefix_dups(t))
    _c.release_all()
    check("conv_prefix_dups: no cartesian product",
          "CartesianProduct" not in pp and "BroadcastNestedLoopJoin" not in pp)
    check("conv_prefix_dups: no running collect_list array",
          "collect_list" not in pp)
    check("conv_prefix_dups: no single-partition stage",
          "SinglePartition" not in pp)

    # 8c. tool_latency_percentiles: the grouped two-phase ranking must
    # never collapse the latency sort to one partition (the per-group
    # prefix window partitions by tool), the bases ride back as a
    # broadcast and nothing joins by sort-merge (the percentile targets
    # are computed per row from the group total, no join at all).
    from ml4logs_spark.operators import windows as _tw

    lp = plan_of(_tw.tool_latency_percentiles(t))
    _c.release_all()
    check("tool_latency_percentiles: no single-partition stage",
          "SinglePartition" not in lp)
    check("tool_latency_percentiles: broadcast bases, no sort-merge join",
          "BroadcastHashJoin" in lp and "SortMergeJoin" not in lp)
    check("tool_latency_percentiles: range partitioning on (tool, lat)",
          "rangepartitioning(tool" in lp)

    # 8d. tool_latency_histogram_state: the bounded-state path must be
    # the lead() window (one conv_id exchange) plus ONE partial+final
    # hash aggregate — no extra shuffle, no single-partition stage —
    # and the publish stays window-over-tool (tiny per-tool frames),
    # never a global collapse.
    hp = plan_of(_tw.tool_latency_histogram_state(t))
    check("latency_histogram: no single-partition stage",
          "SinglePartition" not in hp)
    check("latency_histogram: exactly 2 exchanges (window + agg)",
          len(_xids(hp) | set(re.findall(
              r"Exchange (?:hash|range)partitioning\([^\[]*\[plan_id=(\d+)\]",
              hp))) == 2, hp[:400])
    pubp = plan_of(_tw.latency_percentiles_from_histogram(
        _tw.tool_latency_histogram_state(t)))
    check("latency_histogram publish: no single-partition stage",
          "SinglePartition" not in pubp)

    # 8e. slowest_tool_calls: orderBy+limit must plan as
    # TakeOrderedAndProject (per-partition top-k heaps + k-row driver
    # merge), never a global range-partitioned sort on the metric.
    sp_ = plan_of(_tw.slowest_tool_calls(t))
    check("slowest_tool_calls: TakeOrderedAndProject",
          "TakeOrderedAndProject" in sp_)
    check("slowest_tool_calls: no global sort on latency",
          "rangepartitioning(latency_us" not in sp_)

    # 9. predicate pushdown on filtered scan
    m = t.filter("role = 'user'").select("conv_id")
    p = plan_of(m)
    check("filtered scan: PushedFilters role",
          "PushedFilters: [IsNotNull(role), EqualTo(role,user)]" in p, p[:300])
    check("filtered scan: ReadSchema 2 cols",
          "ReadSchema: struct<conv_id:string,role:string>" in p)

    print(f"\n{n_checks} checks, {len(failures)} failures"
          + (f": {failures}" if failures else ""))
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
