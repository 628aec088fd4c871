"""Config-driven dispatch parity (reference __main__.py:20-51 UX)."""

import inspect
import json
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from ml4logs_spark.datagen import transcripts as tx
from ml4logs_spark.operators import (
    bpe, classify, curate, dedup, drain, encode, enrich, parse, route, similarity,
    textqa, windows,
)
from ml4logs_spark.operators import features as feat
from ml4logs_spark.plans.config_runner import (
    ACTIONS, run_config, step_frame, validate_config,
)
from ml4logs_spark.plans.pipeline import PIPELINE
from ml4logs_spark.sources import rawlog
from ml4logs_spark.sources.manifest import Manifest
from ml4logs_spark.sources.tables import Warehouse
from tests.conftest import SF_DIR, spark_jobs

_REPO = Path(__file__).resolve().parent.parent
_CONFIGS = _REPO / "configs"
_HDFS_LOG = str(_CONFIGS / "hdfs_sample.log")


def test_config_pipeline_end_to_end(spark, tmp_path):
    cfg = {
        "input": SF_DIR,
        "warehouse": str(tmp_path / "wh"),
        "pipeline": [
            {"action": "transcripts"},
            {"action": "template_dim", "save": True},
            {"action": "parse"},
            {"action": "counts"},
            {"action": "tfidf", "save": True},
            {"action": "timedeltas", "save": True},
        ],
    }
    result = run_config(spark, cfg)
    assert result["template_dim"] > 0
    assert result["tfidf"] > 0 and result["timedeltas"] > 0
    # saved tfidf table equals the direct operator composition
    from ml4logs_spark.datagen import transcripts as tx
    from ml4logs_spark.operators import features as feat, parse

    t = tx.transcripts(spark, SF_DIR)
    counts = feat.conv_tool_counts(parse.parsed_turns(t))
    direct = feat.apply_tfidf(counts, feat.fit_idf(counts))
    assert result["tfidf"] == direct.count()
    saved = spark.read.parquet(str(tmp_path / "wh" / "tfidf"))
    key = ["conv_id", "tool", "template_id"]
    a = saved.toPandas().fillna(-1).sort_values(key).reset_index(drop=True)
    b = direct.toPandas().fillna(-1).sort_values(key).reset_index(drop=True)
    assert (a.cnt.values == b.cnt.values).all()


def test_config_skip_and_unknown_action(spark, tmp_path):
    cfg = {
        "input": SF_DIR,
        "warehouse": str(tmp_path / "wh2"),
        "pipeline": [
            {"action": "transcripts"},
            {"action": "timedeltas", "skip": True},
        ],
    }
    result = run_config(spark, cfg)
    assert result["timedeltas"] == "skipped"

    with pytest.raises(ValueError, match="unknown action"):
        validate_config({"pipeline": [{"action": "not_a_step"}]})
    with pytest.raises(ValueError, match="pipeline"):
        validate_config({})


def test_config_documents_curation_path(spark, tmp_path):
    cfg = {
        "input": SF_DIR,
        "warehouse": str(tmp_path / "whd"),
        "pipeline": [
            {"action": "documents"},
            {"action": "dedup_exact", "save": True},
            {"action": "doc_stats", "save": True},
            {"action": "near_dups", "threshold": 0.8, "save": True},
        ],
    }
    result = run_config(spark, cfg)
    assert result["doc_stats"] > 0 and result["dedup_exact"] > 0
    assert isinstance(result["near_dups"], int)


def test_config_curate_action(spark, tmp_path):
    cfg = {
        "input": SF_DIR,
        "warehouse": str(tmp_path / "whc"),
        "pipeline": [
            {"action": "documents"},
            {"action": "curate", "min_score": 0.0, "min_tokens": 1,
             "chunk_tokens": 32, "overlap": 4, "save": True,
             "out": "curated_chunks"},
        ],
    }
    result = run_config(spark, cfg)
    assert result["curated_chunks"] > 0
    saved = spark.read.parquet(str(tmp_path / "whc" / "curated_chunks"))
    assert set(saved.columns) == {"doc_id", "chunk_idx", "chunk_text", "n_tokens"}


def test_config_near_dup_survivors_and_source_mix(spark, tmp_path):
    cfg = {
        "input": SF_DIR,
        "warehouse": str(tmp_path / "whm"),
        "pipeline": [
            {"action": "documents"},
            {"action": "near_dup_survivors", "threshold": 0.8, "save": True},
            {"action": "source_mix",
             "from": "near_dup_survivors",
             "weights": {f"src{i}": "80" for i in range(20)},
             "save": True},
        ],
    }
    result = run_config(spark, cfg)
    assert 0 < result["near_dup_survivors"] <= 500
    # ~50% draw over the survivors
    assert 0 < result["source_mix"] < result["near_dup_survivors"]


def test_config_span_dedup_and_corpus_stats(spark, tmp_path):
    cfg = {
        "input": SF_DIR,
        "warehouse": str(tmp_path / "whs"),
        "pipeline": [
            {"action": "documents"},
            {"action": "span_dedup", "span_tokens": 16, "save": True},
            {"action": "length_histogram", "from": "documents", "save": True},
            {"action": "top_ngrams", "from": "documents", "k": 3, "save": True},
        ],
    }
    result = run_config(spark, cfg)
    assert 0 < result["span_dedup"] <= 500
    assert result["length_histogram"] > 0
    assert result["top_ngrams"] > 0


def test_config_packing_split_boilerplate(spark, tmp_path):
    cfg = {
        "input": SF_DIR,
        "warehouse": str(tmp_path / "whs"),
        "pipeline": [
            {"action": "documents"},
            {"action": "pack_sequences", "from": "documents",
             "chunk_tokens": 32, "overlap": 4, "seq_tokens": 128,
             "save": True},
            {"action": "boilerplate_filter", "from": "documents",
             "max_doc_freq": 2, "save": True},
            {"action": "dataset_split", "from": "documents", "save": True},
        ],
    }
    result = run_config(spark, cfg)
    assert result["pack_sequences"] > 0
    assert 0 < result["boilerplate_filter"] <= 500
    assert result["dataset_split"] == 500


def test_config_quality_models(spark, tmp_path):
    """The batch-5 quality-model actions wire through the runner:
    NB split-classify, perplexity tiers, KL skew, bigram scores."""
    cfg = {
        "input": SF_DIR,
        "warehouse": str(tmp_path / "whq"),
        "pipeline": [
            {"action": "documents"},
            {"action": "nb_classify", "from": "documents", "save": True},
            {"action": "perplexity_buckets", "from": "documents",
             "n_buckets": 4, "save": True},
            {"action": "source_kl", "from": "documents", "save": True},
            {"action": "bigram_logprob", "from": "documents", "save": True},
            {"action": "bigram_novelty", "from": "documents", "save": True},
        ],
    }
    result = run_config(spark, cfg)
    assert result["nb_classify"] == 250  # odd half
    assert result["perplexity_buckets"] == 500
    assert result["source_kl"] == 20
    assert result["bigram_logprob"] == 500
    assert result["bigram_novelty"] == 500


def test_run_pipeline_cli_smoke(tmp_path):
    """The spark-submit entry point (jobs/run_pipeline.py) runs end to
    end as its own process and prints the metrics JSON contract."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    proc = subprocess.run(
        [sys.executable, "jobs/run_pipeline.py",
         "--input", SF_DIR, "--warehouse", str(tmp_path / "wh"),
         "--cores", "4"],
        capture_output=True, text=True, cwd=repo, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["routed_turns"] > 0
    assert out["stages_ran"] and out["turns_per_sec"] > 0


def test_run_config_cli_smoke(tmp_path):
    """The config-driven CLI (the reference's `python -m ml4logs
    <config.json>` UX) runs a shipped-style config end to end."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    repo = Path(__file__).resolve().parent.parent
    cfg = {
        "input": SF_DIR,
        "warehouse": str(tmp_path / "wh"),
        "pipeline": [
            {"action": "documents"},
            {"action": "doc_stats", "save": True},
        ],
    }
    cfg_path = tmp_path / "cfg.json"
    cfg_path.write_text(json.dumps(cfg))
    proc = subprocess.run(
        [sys.executable, "jobs/run_config.py", str(cfg_path)],
        capture_output=True, text=True, cwd=repo, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["doc_stats"] > 0


def test_config_temperature_mix_and_knn_actions(spark, tmp_path):
    cfg = {
        "input": SF_DIR,
        "warehouse": str(tmp_path / "wh3"),
        "pipeline": [
            {"action": "documents"},
            {"action": "temperature_mix", "alpha": 0.75, "save": True},
            {"action": "embeddings"},
            {"action": "knn_label_vote", "k": 5, "save": True},
        ],
    }
    result = run_config(spark, cfg)
    from ml4logs_spark.operators import similarity, textqa

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    assert result["temperature_mix"] == textqa.temperature_mix_sample(
        docs, alpha=0.75
    ).count()
    assert result["knn_label_vote"] == similarity.knn_label_vote(emb, k=5).count()


def test_config_transcript_curation_actions(spark, tmp_path):
    """conv_quality / curate_transcripts actions dispatch and match the
    direct operator composition (chain == config-wired chain)."""
    from ml4logs_spark import cache
    from ml4logs_spark.datagen import transcripts as tx
    from ml4logs_spark.operators import curate, windows

    cfg = {
        "input": SF_DIR,
        "warehouse": str(tmp_path / "whct"),
        "pipeline": [
            {"action": "transcripts"},
            {"action": "conv_quality", "min_user_frac": 0.2, "save": True},
            {"action": "curate_transcripts", "from": "transcripts",
             "max_turns": 100, "seq_tokens": 512, "save": True},
        ],
    }
    cache.release_all()
    result = run_config(spark, cfg)
    t = tx.transcripts(spark, SF_DIR)
    assert result["conv_quality"] == windows.conv_quality_flags(
        t, min_user_frac=0.2
    ).count()
    cache.release_all()
    direct = curate.curate_transcripts(t, max_turns=100, seq_tokens=512)
    assert result["curate_transcripts"] == direct.count()
    saved = spark.read.parquet(str(tmp_path / "whct" / "curate_transcripts"))
    key = ["conv_id", "turn_idx"]
    a = saved.toPandas().sort_values(key).reset_index(drop=True)
    b = direct.toPandas().sort_values(key).reset_index(drop=True)
    assert (a.seq_id.values == b.seq_id.values).all()
    assert (a.token_offset.values == b.token_offset.values).all()
    cache.release_all()


def test_config_conv_near_dup_actions(spark, tmp_path):
    """conv_near_dups / conv_bands / conv_shingle_store /
    incremental_conv_near_dups dispatch: the config-wired day-2
    conversation near-dup (history split by the md5(conv_id) hex
    nibble, state = band table + shingle store) matches the direct
    operator composition, and the batch action matches
    dedup.conv_near_dups."""
    from ml4logs_spark.datagen import transcripts as tx
    from ml4logs_spark.operators import dedup

    hist_w = "substring(md5(conv_id), 1, 1) < '8'"
    new_w = "substring(md5(conv_id), 1, 1) >= '8'"
    cfg = {
        "input": SF_DIR,
        "warehouse": str(tmp_path / "whcnd"),
        "pipeline": [
            {"action": "transcripts"},
            {"action": "conv_near_dups", "threshold": 0.15, "save": True},
            {"action": "conv_bands", "where": hist_w, "out": "hist_bands"},
            {"action": "conv_shingle_store", "where": hist_w,
             "out": "hist_store"},
            {"action": "incremental_conv_near_dups", "where": new_w,
             "bands": "hist_bands", "store": "hist_store",
             "threshold": 0.15, "save": True},
        ],
    }
    result = run_config(spark, cfg)
    t = tx.transcripts(spark, SF_DIR)
    assert result["conv_near_dups"] == dedup.conv_near_dups(
        t, threshold=0.15
    ).count()
    nib = "substring(md5(conv_id), 1, 1)"
    hist_docs = dedup.conv_text_docs(t.filter(f"{nib} < '8'"))
    direct = dedup.incremental_conv_near_dups(
        t.filter(f"{nib} >= '8'"),
        dedup.lsh_bands(dedup.minhash_signatures(hist_docs)),
        dedup.shingle_store(hist_docs),
        threshold=0.15,
    )
    assert result["incremental_conv_near_dups"] == direct.count() > 0


def test_validate_rejects_unknown_step_key():
    """A misspelt key fails validation with the accepted list instead of
    silently running at the operator's default threshold."""
    cfg = {"pipeline": [{"action": "documents", "input": SF_DIR},
                        {"action": "near_dups", "threshhold": 0.95}]}
    with pytest.raises(ValueError, match="threshhold") as err:
        validate_config(cfg)
    msg = str(err.value)
    assert "accepted" in msg and "'threshold'" in msg and "'from'" in msg
    validate_config({"pipeline": [{"action": "documents", "input": SF_DIR},
                                  {"action": "near_dups", "threshold": 0.95}]})


def test_validate_rejects_where_on_non_slicing_action():
    slice_ = "substring(md5(conv_id), 1, 1) < '8'"
    validate_config({"pipeline": [{"action": "transcripts", "input": SF_DIR},
                                  {"action": "daily_health_state", "where": slice_}]})
    with pytest.raises(ValueError, match="'where'"):
        validate_config({"pipeline": [{"action": "documents", "input": SF_DIR},
                                      {"action": "doc_stats", "where": "doc_id > 3"}]})


def test_validate_rejects_missing_required_key():
    with pytest.raises(ValueError, match="weights"):
        validate_config({"pipeline": [{"action": "documents", "input": SF_DIR},
                                      {"action": "source_mix"}]})


# every shipped config, and the pipeline run_pipeline runs
_SHIPPED = {p.name: json.loads(p.read_text()) for p in _CONFIGS.glob("*.json")}
_SHIPPED["PIPELINE"] = {"input": SF_DIR, "pipeline": PIPELINE}


@pytest.mark.parametrize("path", sorted(_SHIPPED))
def test_shipped_config_validates(path):
    """Every shipped config binds every step without a Spark session."""
    validate_config(_SHIPPED[path])


def _sink_files(warehouse):
    return {str(p): p.stat().st_mtime_ns for p in Path(warehouse).rglob("*")
            if p.is_file() and p.name != "_manifest.jsonl"}


def _preprocess_config(spark, tmp_path):
    cfg = json.loads((_CONFIGS / "transcripts_preprocess.json").read_text())
    cfg["warehouse"] = str(tmp_path / "wh")
    return cfg, Manifest(Warehouse(spark, cfg["warehouse"]))


def test_shipped_config_rerun_resumes(spark, tmp_path):
    """Every save step is a manifest commit: a fresh run of the shipped
    config commits its six saves in at most 29 Spark jobs, as no commit
    reads its sink back. Rerunning it returns the same result,
    runs no Spark job, appends no manifest record and rewrites no sink
    file."""
    cfg, man = _preprocess_config(spark, tmp_path)
    jobs, first = spark_jobs(spark, "config-fresh", lambda: run_config(spark, cfg))
    assert jobs <= 29
    records, files = man.load(), _sink_files(cfg["warehouse"])
    jobs, second = spark_jobs(spark, "config-rerun", lambda: run_config(spark, cfg))
    assert jobs == 0
    assert second == first
    assert man.load() == records
    assert _sink_files(cfg["warehouse"]) == files


def test_validate_rejects_maxpool_wider_than_encode():
    """The max-pool reads elements 1..dim of each embedding, so narrowing
    only ``encode`` fails validation before Spark starts (no session is
    passed), not at run time past the end of the array."""
    cfg = json.loads((_CONFIGS / "transcripts_preprocess.json").read_text())
    encode_step = next(s for s in cfg["pipeline"] if s["action"] == "encode")
    encode_step["dim"] = 4
    with pytest.raises(ValueError, match=r"dim 8 differs from the dim 4 of step 9"):
        run_config(None, cfg)
    encode_step.pop("dim")  # both at their default width, 8
    validate_config(cfg)


def _embedding_width(spark, cfg, dim):
    for step in cfg["pipeline"]:
        if step["action"] in ("encode", "array_maxpool"):
            step["dim"] = dim
    run_config(spark, cfg)
    table = spark.read.parquet(str(Path(cfg["warehouse"]) / "conv_embedding"))
    return {len(r[0]) for r in table.select("max_embedding").collect()}


def test_config_step_edit_reruns_later_saves_only(spark, tmp_path):
    """A save's fingerprint covers every step up to it: narrowing the
    embedding (the encode step and the max-pool that reads it) reruns
    the one save after the edit and resumes the five saves before it.
    Reverting the edit reruns that save again: the table on disk is the
    narrowed one, so the first run's record must not resume it."""
    cfg, man = _preprocess_config(spark, tmp_path)
    assert _embedding_width(spark, cfg, 8) == {8}
    n = len(man.load())
    assert _embedding_width(spark, cfg, 4) == {4}
    assert [r["sink"] for r in man.load()[n:]] == ["conv_embedding"]
    assert _embedding_width(spark, cfg, 8) == {8}
    assert [r["sink"] for r in man.load()[n:]] == ["conv_embedding"] * 2


def test_shipped_hdfs_config_runs(spark, tmp_path):
    """The shipped HDFS config routes every line that carries a block id
    from the committed sample log, and mines the PacketResponder
    template from it."""
    cfg = json.loads((_CONFIGS / "hdfs_preprocess.json").read_text())
    cfg["input"] = str(_REPO / cfg["input"])  # relative to the repo root
    cfg["warehouse"] = str(tmp_path / "wh")
    result = run_config(spark, cfg)

    lines = Path(cfg["input"]).read_text().splitlines()
    n_block_lines = sum(bool(re.search(rawlog.BLOCK_RE, line)) for line in lines)
    assert 0 < n_block_lines < len(lines)
    sinks = spark.read.parquet(str(tmp_path / "wh" / "sink_counts"))
    assert sinks.agg(F.sum("n_rows")).first()[0] == n_block_lines
    assert result["route"] == result["timedeltas"] == n_block_lines
    templates = {r.template for r in spark.read.parquet(
        str(tmp_path / "wh" / "template_dim")).collect()}
    assert "PacketResponder <*> for block blk_<*> terminating" in templates


def test_action_rows_name_operator_parameters():
    """Every scalar key and frame key of a row binds to its operator."""
    for name, a in ACTIONS.items():
        params = {**{k: None for k in a.keys}, **{p: None for p in a.frames.values()}}
        if "spark" in inspect.signature(a.op).parameters:
            params["spark"] = None
        args = (None,) if a.src else ()
        inspect.signature(a.op).bind_partial(*args, **params)


# extra step keys an action needs before it builds: the env frames it
# merges or probes, and required scalar keys
_STEPS = {
    "hdfs_log": {"input": _HDFS_LOG},
    "merge_features": {"left": "feats", "right": "feats"},
    "incremental_span_dedup": {"store": "block_store"},
    "merge_length_histograms": {"a": "length_histogram", "b": "length_histogram"},
    "source_mix": {"weights": {f"src{i}": "80" for i in range(20)}},
    "incremental_conv_dedup": {"state": "conv_hashes"},
    "incremental_conv_near_dups": {"bands": "conv_bands",
                                   "store": "conv_shingle_store"},
    "merge_slowest_tool_calls": {"a": "slowest_tool_calls", "b": "slowest_tool_calls"},
    "merge_latency_histograms": {"a": "tool_latency_histogram",
                                 "b": "tool_latency_histogram"},
    "latency_drift": {"a": "tool_latency_histogram", "b": "tool_latency_histogram"},
    "merge_daily_health_state": {"a": "daily_health_state", "b": "daily_health_state"},
    "incremental_conv_prefix_dups": {"state": "conv_prefix_state",
                                     "frames": "conv_frame_store"},
}


def _held_out_split(docs):
    nib = F.substring(F.md5("text"), 1, 1)
    return docs.filter(nib != "0"), docs.filter(nib == "0")


# the direct operator call each action stands for, at the operator's
# defaults plus the config-level defaults its row declares
_DIRECT = {
    "transcripts": lambda s, e: tx.transcripts(s, SF_DIR),
    "hdfs_log": lambda s, e: rawlog.read_hdfs_log(s, _HDFS_LOG),
    "template_dim": lambda s, e: parse.template_dim(e["transcripts"]),
    "parse": lambda s, e: parse.parsed_turns(e["transcripts"], e["template_dim"]),
    "enrich": lambda s, e: enrich.enrich(e["parse"], tx.role_dim(s), tx.tool_dim(s)),
    "route": lambda s, e: route.with_sink_key(e["enrich"]).drop("sink_key"),
    "sink_counts": lambda s, e: route.sink_counts(e["parse"]),
    "counts": lambda s, e: feat.conv_tool_counts(e["parse"]),
    "tfidf": lambda s, e: feat.apply_tfidf(e["counts"], feat.fit_idf(e["counts"])),
    "timedeltas": lambda s, e: windows.with_timedeltas(e["transcripts"]).select(
        "conv_id", "turn_idx", "td"),
    "sessions": lambda s, e: windows.with_sessions(e["transcripts"]),
    "encode": lambda s, e: encode.turn_embeddings(e["transcripts"]),
    "array_maxpool": lambda s, e: feat.array_maxpool(
        e["encode"], key="conv_id", vec_col="embedding", dim=8),
    "merge_features": lambda s, e: feat.merge_features(
        e["feats"], e["feats"], keys=["conv_id", "turn_idx"]),
    "drain": lambda s, e: drain.match_templates(
        e["transcripts"], drain.fit_templates(e["transcripts"])),
    "documents": lambda s, e: s.read.parquet(f"{SF_DIR}/documents.parquet"),
    "embeddings": lambda s, e: s.read.parquet(f"{SF_DIR}/embeddings.parquet"),
    "dedup_exact": lambda s, e: dedup.exact_dedup(e["documents"]),
    "near_dups": lambda s, e: dedup.near_dups(e["documents"]),
    "near_dup_survivors": lambda s, e: dedup.near_dup_survivors(e["documents"]),
    "source_mix": lambda s, e: textqa.source_mix_sample(
        e["documents"], _STEPS["source_mix"]["weights"]),
    "doc_stats": lambda s, e: textqa.doc_stats(e["documents"]),
    "repetition_stats": lambda s, e: textqa.repetition_stats(e["documents"]),
    "unigram_logprob": lambda s, e: textqa.unigram_logprob(e["documents"]),
    "bigram_counts": lambda s, e: textqa.bigram_counts(e["documents"]),
    "span_dedup": lambda s, e: dedup.span_dedup(e["documents"]),
    "incremental_span_dedup": lambda s, e: dedup.incremental_span_dedup(
        e["documents"], e["block_store"]),
    "gopher_quality": lambda s, e: textqa.gopher_quality_flags(e["documents"]),
    "length_histogram": lambda s, e: textqa.doc_length_histogram(e["documents"]),
    "merge_length_histograms": lambda s, e: textqa.merge_doc_length_histograms(
        e["length_histogram"], e["length_histogram"]),
    "top_ngrams": lambda s, e: textqa.top_ngrams_per_source(e["documents"]),
    "curate": lambda s, e: curate.curate_corpus(*_held_out_split(e["documents"])),
    "curate_attrition": lambda s, e: curate.curate_attrition(
        *_held_out_split(e["documents"])),
    "pack_sequences": lambda s, e: textqa.pack_sequences(
        textqa.chunk_documents(e["documents"])),
    "boilerplate_filter": lambda s, e: dedup.boilerplate_span_filter(e["documents"]),
    "dataset_split": lambda s, e: textqa.dataset_split(e["documents"]),
    "temperature_mix": lambda s, e: textqa.temperature_mix_sample(
        e["documents"], full_rows=True),
    "knn_label_vote": lambda s, e: similarity.knn_label_vote(e["embeddings"]),
    "ivf_cell_summary": lambda s, e: similarity.ivf_cell_summary(e["embeddings"]),
    "bigram_logprob": lambda s, e: textqa.bigram_logprob(e["documents"]),
    "perplexity_buckets": lambda s, e: textqa.perplexity_buckets(e["documents"]),
    "nb_classify": lambda s, e: classify.nb_source_classify_split(e["documents"]),
    "source_kl": lambda s, e: textqa.source_kl_divergence(e["documents"]),
    "bigram_novelty": lambda s, e: textqa.bigram_novelty(e["documents"]),
    "bpe_fit": lambda s, e: bpe.bpe_fit(e["documents"]),
    "bpe_encode": lambda s, e: bpe.bpe_encode(
        e["documents"], bpe.bpe_fit(e["documents"])),
    "nb_confusion": lambda s, e: classify.nb_confusion(e["documents"]),
    "lm_score": lambda s, e: textqa.lm_score(
        e["documents"], textqa.vocab_counts(e["documents"])),
    "pq_encode": lambda s, e: similarity.pq_encode(e["embeddings"]),
    "pq_topk": lambda s, e: similarity.pq_topk(
        e["embeddings"], query_ids=list(range(5))),
    "conv_quality": lambda s, e: windows.conv_quality_flags(e["transcripts"]),
    "curate_transcripts": lambda s, e: curate.curate_transcripts(e["transcripts"]),
    "conv_hashes": lambda s, e: dedup.conv_hashes(e["transcripts"]),
    "conv_bands": lambda s, e: e["conv_bands"],
    "conv_shingle_store": lambda s, e: e["conv_shingle_store"],
    "incremental_conv_dedup": lambda s, e: dedup.incremental_conv_dedup(
        e["transcripts"], e["conv_hashes"]),
    "conv_near_dups": lambda s, e: dedup.conv_near_dups(e["transcripts"]),
    "incremental_conv_near_dups": lambda s, e: dedup.incremental_conv_near_dups(
        e["transcripts"], e["conv_bands"], e["conv_shingle_store"]),
    "conv_prefix_dups": lambda s, e: dedup.conv_prefix_dups(e["transcripts"]),
    "conv_branch_survivors": lambda s, e: dedup.conv_branch_survivors(e["transcripts"]),
    "tool_latency_stats": lambda s, e: windows.tool_latency_stats(e["transcripts"]),
    "daily_health_rollup": lambda s, e: windows.daily_health_rollup(e["transcripts"]),
    "tool_latency_percentiles": lambda s, e: windows.tool_latency_percentiles(
        e["transcripts"]),
    "daily_health_drift": lambda s, e: windows.daily_health_drift(e["transcripts"]),
    "slowest_tool_calls": lambda s, e: e["slowest_tool_calls"],
    "tool_transition_counts": lambda s, e: windows.tool_transition_counts(
        e["transcripts"]),
    "tool_retry_runs": lambda s, e: windows.tool_retry_runs(e["transcripts"]),
    "tool_error_attribution": lambda s, e: windows.tool_error_attribution(
        e["transcripts"]),
    "merge_slowest_tool_calls": lambda s, e: windows.merge_slowest_tool_calls(
        e["slowest_tool_calls"], e["slowest_tool_calls"]),
    "conv_ending_rollup": lambda s, e: windows.conv_ending_rollup(e["transcripts"]),
    "conv_ending_drift": lambda s, e: windows.conv_ending_drift(e["transcripts"]),
    "conv_endings": lambda s, e: windows.conv_endings(e["transcripts"]),
    "time_to_first_tool": lambda s, e: windows.time_to_first_tool(e["transcripts"]),
    "tool_latency_histogram": lambda s, e: e["tool_latency_histogram"],
    "merge_latency_histograms": lambda s, e: windows.merge_tool_latency_histograms(
        e["tool_latency_histogram"], e["tool_latency_histogram"]),
    "latency_percentiles_from_histogram": lambda s, e: (
        windows.latency_percentiles_from_histogram(e["tool_latency_histogram"])),
    "latency_drift": lambda s, e: windows.latency_drift_from_histograms(
        e["tool_latency_histogram"], e["tool_latency_histogram"]),
    "daily_health_state": lambda s, e: e["daily_health_state"],
    "merge_daily_health_state": lambda s, e: windows.merge_daily_health_state(
        e["daily_health_state"], e["daily_health_state"]),
    "daily_health_from_state": lambda s, e: windows.daily_health_from_state(
        e["daily_health_state"]),
    "conv_prefix_state": lambda s, e: e["conv_prefix_state"],
    "conv_frame_store": lambda s, e: e["conv_frame_store"],
    "incremental_conv_prefix_dups": lambda s, e: dedup.incremental_conv_prefix_dups(
        e["transcripts"], e["conv_prefix_state"], e["conv_frame_store"]),
    "curate_transcripts_attrition": lambda s, e: curate.curate_transcripts_attrition(
        e["transcripts"]),
}


@pytest.fixture(scope="module")
def action_env(spark):
    """The env frames the actions read by default or by name, built
    directly from the operators (lazily: nothing here runs a job)."""
    t = tx.transcripts(spark, SF_DIR)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    env = {"transcripts": t, "documents": docs,
           "embeddings": spark.read.parquet(f"{SF_DIR}/embeddings.parquet"),
           "template_dim": parse.template_dim(t)}
    env["parse"] = parse.parsed_turns(t, env["template_dim"])
    env["enrich"] = enrich.enrich(env["parse"], tx.role_dim(spark), tx.tool_dim(spark))
    env["counts"] = feat.conv_tool_counts(env["parse"])
    env["encode"] = encode.turn_embeddings(t)
    env["feats"] = env["encode"].withColumnRenamed("embedding", "features")
    env["block_store"] = dedup.block_store(docs)
    env["length_histogram"] = textqa.doc_length_histogram(docs)
    env["conv_hashes"] = dedup.conv_hashes(t)
    conv_docs = dedup.conv_text_docs(t)
    env["conv_bands"] = dedup.lsh_bands(dedup.minhash_signatures(conv_docs))
    env["conv_shingle_store"] = dedup.shingle_store(conv_docs)
    env["slowest_tool_calls"] = windows.slowest_tool_calls(t)
    env["tool_latency_histogram"] = windows.tool_latency_histogram_state(t)
    env["daily_health_state"] = windows.daily_health_state(t)
    env["conv_prefix_state"] = dedup.conv_prefix_state(t)
    env["conv_frame_store"] = dedup.conv_frame_store(t)
    return env


def test_direct_calls_cover_every_action():
    assert sorted(_DIRECT) == sorted(ACTIONS)


# builds that plant a fresh data leaf (a collected fit broadcast into a
# UDF, a created dim frame, a checkpointed loop): two builds of the same
# call are never the same plan, so only their schemas compare
_FRESH_LEAF = {"bpe_fit", "drain", "near_dup_survivors", "source_mix"}


@pytest.mark.parametrize("name", sorted(ACTIONS))
def test_action_builds_its_operator_frame(spark, action_env, name):
    """Each action, bound with no keys beyond the frames and required
    values it needs, builds the frame of the direct operator call at the
    operator's own defaults (plus the row's config-level defaults): the
    same schema, and the same canonical plan wherever the build is
    repeatable, which pins every scalar default the plan embeds."""
    from ml4logs_spark import cache

    step = {"action": name, **_STEPS.get(name, {})}
    cfg = {"input": SF_DIR, "pipeline": [step]}
    validate_config(cfg)
    try:
        got = step_frame(spark, action_env, step, cfg)
        want = _DIRECT[name](spark, action_env)
        assert got.schema == want.schema
        if name not in _FRESH_LEAF:
            assert got.sameSemantics(want)
    finally:
        cache.release_all()


def test_config_rebound_name_reads_earlier_binding(spark, tmp_path):
    """A step reads the frames bound before it: rebinding ``documents``
    to a source-mix sample feeds the sample to the next step, although
    the rebinding step itself reads the full documents."""
    weights = _STEPS["source_mix"]["weights"]
    cfg = {
        "input": SF_DIR,
        "warehouse": str(tmp_path / "wh"),
        "pipeline": [
            {"action": "documents"},
            {"action": "source_mix", "weights": weights, "out": "documents"},
            {"action": "doc_stats", "save": True},
        ],
    }
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    want = textqa.doc_stats(textqa.source_mix_sample(docs, weights)).count()
    assert 0 < want < docs.count()
    assert run_config(spark, cfg)["doc_stats"] == want
