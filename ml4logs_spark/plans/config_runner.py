"""Config-driven pipeline dispatch — parity with the reference's primary
entry point (``python -m ml4logs <config.json>``): a JSON ``pipeline``
array of named ``action`` steps, dispatched through one static table
the way the reference's ``__main__`` maps action names to functions.

Step shape: ``{"action": name, "from": env_key, "out": env_key, "save":
bool, "stage": label, "skip": bool, "partition_by": [cols], "where":
sql, ...keys}``.

- ``from`` names the env frame the operator reads (its first argument);
  it defaults per action, usually to the previous logical stage.
  Sources and merges take no ``from``.
- ``out`` names the env frame the result binds to (default: the action
  name). Steps bind frames into a lazy environment — the analog of the
  reference's file-path IR — instead of materializing files: a frame is
  built on its first read, once, from the names bound before its step.
- ``save: true`` is a manifest commit (sources/manifest.py) of the
  output to the warehouse, the durable boundary, with optional
  ``partition_by`` (whose per-partition row counts the record keeps);
  downstream steps then read the committed table, through the
  warehouse's per-table read memo. The commit's fingerprint covers the
  input files (the config's ``input`` and any step's) and every step up
  to and including this one, so a rerun resumes each unchanged save
  without building it, and editing a step reruns that step's save and
  every save after it. ``stage`` labels the manifest record (default:
  the action name).
- ``skip: true`` mirrors the reference's per-step skip flag.
- ``where`` (a SQL boolean expression) slices the ``from`` frame, so one
  config can split history from a new batch; only the actions whose row
  sets ``where=True`` honour it.

Adding an action is one ``ACTIONS`` row: the operator, its default
``from`` frame, the scalar step keys it accepts (each passed to the
operator by name), the step keys that name env frames and the operator
parameter each feeds, and whether ``where`` applies. Defaults live in
the operator's signature only; a row carries a default of its own just
where the config layer differs from the operator (or the operator has
none). An operator that declares a ``spark`` parameter receives the
session, and a step without ``input`` reads the config's ``input``
directory. Steps whose work is more than one operator call go through a
small composing function in this module.

``validate_config`` checks every step before any Spark work: the action
must exist, every key must be one its row accepts (a typo raises with
the accepted list instead of running at the operator's default), and
the arguments must bind to the operator's signature.
"""

from __future__ import annotations

import functools
import hashlib
import inspect
import json
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ml4logs_spark.datagen import transcripts as tx
from ml4logs_spark.operators import bpe, classify, curate, dedup, drain, encode
from ml4logs_spark.operators import enrich as enrich_op
from ml4logs_spark.operators import features as feat
from ml4logs_spark.operators import parse, route, similarity, textqa, windows
from ml4logs_spark.sources import rawlog
from ml4logs_spark.sources.manifest import Manifest, input_fingerprint
from ml4logs_spark.sources.tables import Warehouse

# keys any step may carry; run_config reads them itself
STEP_KEYS = ("action", "out", "save", "skip", "partition_by", "stage")


class Action(NamedTuple):
    op: Callable
    src: str | None  # default ``from`` frame; None: the step takes no ``from``
    keys: tuple[str, ...]  # scalar step keys, passed to ``op`` by name
    frames: dict[str, str]  # step key naming an env frame -> ``op`` parameter
    where: bool  # the ``where`` slice applies to the ``from`` frame
    defaults: dict  # config-level defaults the operator does not supply


def _row(op, src=None, keys="", frames=None, where=False, defaults=None) -> Action:
    return Action(op, src, tuple(keys.split()), frames or {}, where, defaults or {})


def _transcripts(spark, input):
    return tx.transcripts(spark, input)


def _hdfs_log(spark, input, **kw):
    # raw HDFS log text (a file, directory or glob) as transcript turns
    return rawlog.read_hdfs_log(spark, input, **kw)


def _parquet(table: str) -> Callable:
    def read(spark, input):
        return spark.read.parquet(f"{input}/{table}.parquet")

    return read


def _enrich(parsed):
    spark = parsed.sparkSession
    return enrich_op.enrich(parsed, tx.role_dim(spark), tx.tool_dim(spark))


def _route(parsed):
    return route.with_sink_key(parsed).drop("sink_key")


def _tfidf(counts):
    return feat.apply_tfidf(counts, feat.fit_idf(counts))


def _timedeltas(turns):
    return windows.with_timedeltas(turns).select("conv_id", "turn_idx", "td")


def _drain(turns, **fit_kw):
    return drain.match_templates(turns, drain.fit_templates(turns, **fit_kw))


def _held_out(op: Callable) -> Callable:
    # curate / curate_attrition: "benchmark" names the held-out frame;
    # without one, the md5-nibble-'0' slice of the input is held out
    def run(docs, benchmark=None, **kw):
        if benchmark is None:
            nib = F.substring(F.md5("text"), 1, 1)
            docs, benchmark = docs.filter(nib != "0"), docs.filter(nib == "0")
        return op(docs, benchmark, **kw)

    return run


def _pack_sequences(src, **kw):
    # accepts either a chunk frame (doc_id, chunk_idx, n_tokens) or raw
    # documents (chunked first with the step's chunking params)
    pack = {k: kw.pop(k) for k in ("seq_tokens",) if k in kw}
    if "chunk_idx" not in src.columns:
        src = textqa.chunk_documents(src, **kw)
    return textqa.pack_sequences(src, **pack)


def _nb_classify(docs, train=None, **fit_kw):
    # fit on one frame, classify another (defaults to the split-query
    # even/odd day-2 framing when only one frame is named)
    if train is None:
        return classify.nb_source_classify_split(docs)
    return classify.nb_classify(docs, *classify.nb_fit(train, **fit_kw))


def _lm_score(docs, model=None):
    # score one frame under the LM carried by another frame's
    # vocab_counts state (defaults to self-scoring == unigram_logprob)
    return textqa.lm_score(docs, textqa.vocab_counts(docs if model is None else model))


def _bpe_encode(docs, merges=None, **fit_kw):
    if merges is None:
        merges = bpe.bpe_fit(docs, **fit_kw)
    return bpe.bpe_encode(docs, merges)


def _conv_bands(turns):
    # LSH band table over the conv-as-document adapter: half of the
    # day-2 conversation near-dup state (fixed-width rows, no text)
    return dedup.lsh_bands(dedup.minhash_signatures(dedup.conv_text_docs(turns)))


def _conv_shingle_store(turns):
    # hashed-shingle store over the conv adapter: the other half of
    # the day-2 state (exact-Jaccard verification without the text)
    return dedup.shingle_store(dedup.conv_text_docs(turns))


# shorthands for the rows: the three source frames, the two-frame merge
# keys, and key lists several rows share
_T, _D, _E = "transcripts", "documents", "embeddings"
_AB = {"a": "a", "b": "b"}
_QUALITY = "min_turns max_turns max_role_run min_user_frac max_tool_frac"
_ATTRITION = "min_score min_tokens max_tokens mix_weights max_dup_bigram_frac gopher"
_PQ = "m dim ksub n_iters sample_mod"

ACTIONS: dict[str, Action] = {
    "transcripts": _row(_transcripts, keys="input"),
    "hdfs_log": _row(_hdfs_log, keys="input labeled order"),
    "template_dim": _row(parse.template_dim, _T),
    "parse": _row(parse.parsed_turns, _T, frames={"dim": "dim"},
                  defaults={"dim": "template_dim"}),
    "enrich": _row(_enrich, "parse"),
    "route": _row(_route, "enrich"),
    "sink_counts": _row(route.sink_counts, "parse"),
    "counts": _row(feat.conv_tool_counts, "parse"),
    "tfidf": _row(_tfidf, "counts"),
    "timedeltas": _row(_timedeltas, _T),
    "sessions": _row(windows.with_sessions, _T, "gap_seconds"),
    "encode": _row(encode.turn_embeddings, _T, "dim"),
    "array_maxpool": _row(feat.array_maxpool, "encode", "key vec_col dim",
                          defaults={"key": "conv_id", "vec_col": "embedding",
                                    "dim": 8}),
    "merge_features": _row(feat.merge_features, None, "keys feat_col",
                           {"left": "a", "right": "b"},
                           defaults={"keys": ["conv_id", "turn_idx"]}),
    "drain": _row(_drain, _T, "sample_size"),
    "documents": _row(_parquet("documents"), keys="input"),
    "embeddings": _row(_parquet("embeddings"), keys="input"),
    "dedup_exact": _row(dedup.exact_dedup, _D),
    "near_dups": _row(dedup.near_dups, _D, "threshold"),
    "near_dup_survivors": _row(dedup.near_dup_survivors, _D, "threshold"),
    "source_mix": _row(textqa.source_mix_sample, _D, "weights"),
    "doc_stats": _row(textqa.doc_stats, _D),
    "repetition_stats": _row(textqa.repetition_stats, _D),
    "unigram_logprob": _row(textqa.unigram_logprob, _D),
    "bigram_counts": _row(textqa.bigram_counts, _D, "min_count"),
    "span_dedup": _row(dedup.span_dedup, _D, "span_tokens"),
    "incremental_span_dedup": _row(dedup.incremental_span_dedup, _D, "span_tokens",
                                   {"store": "store"}),
    "gopher_quality": _row(textqa.gopher_quality_flags, _D,
                           "min_words max_words min_mean_word_len max_mean_word_len "
                           "max_symbol_ratio min_alpha_word_frac min_stop_hits"),
    "length_histogram": _row(textqa.doc_length_histogram, _D),
    "merge_length_histograms": _row(textqa.merge_doc_length_histograms, frames=_AB),
    "top_ngrams": _row(textqa.top_ngrams_per_source, _D, "k min_count"),
    "curate": _row(_held_out(curate.curate_corpus), _D,
                   f"{_ATTRITION} near_threshold span_tokens mix_alpha "
                   "chunk_tokens overlap", {"benchmark": "benchmark"}),
    "curate_attrition": _row(_held_out(curate.curate_attrition), _D, _ATTRITION,
                             {"benchmark": "benchmark"}),
    "pack_sequences": _row(_pack_sequences, _D, "chunk_tokens overlap seq_tokens"),
    "boilerplate_filter": _row(dedup.boilerplate_span_filter, _D,
                               "max_doc_freq span_tokens"),
    "dataset_split": _row(textqa.dataset_split, _D, "val_hex test_hex"),
    # full rows by default so the action composes with downstream
    # doc-consuming steps (the slim (doc_id, source) form is the
    # driver-query shape, selectable with full_rows: false)
    "temperature_mix": _row(textqa.temperature_mix_sample, _D, "alpha full_rows",
                            defaults={"full_rows": True}),
    "knn_label_vote": _row(similarity.knn_label_vote, _E, "k seed_rate_hex"),
    "ivf_cell_summary": _row(similarity.ivf_cell_summary, _E, "n_centroids"),
    "bigram_logprob": _row(textqa.bigram_logprob, _D),
    "perplexity_buckets": _row(textqa.perplexity_buckets, _D, "n_buckets"),
    "nb_classify": _row(_nb_classify, _D, "label_col", {"train_from": "train"}),
    "source_kl": _row(textqa.source_kl_divergence, _D),
    "bigram_novelty": _row(textqa.bigram_novelty, _D),
    "bpe_fit": _row(bpe.bpe_fit, _D, "n_merges"),
    "bpe_encode": _row(_bpe_encode, _D, "n_merges", {"merges_from": "merges"}),
    "nb_confusion": _row(classify.nb_confusion, _D),
    "lm_score": _row(_lm_score, _D, frames={"model_from": "model"}),
    "pq_encode": _row(similarity.pq_encode, _E, _PQ),
    "pq_topk": _row(similarity.pq_topk, _E, f"query_ids k {_PQ}",
                    defaults={"query_ids": list(range(5))}),
    "conv_quality": _row(windows.conv_quality_flags, _T, _QUALITY),
    "curate_transcripts": _row(curate.curate_transcripts, _T, f"{_QUALITY} "
                               "near_threshold branch_min_shared seq_tokens"),
    "conv_hashes": _row(dedup.conv_hashes, _T),
    "conv_bands": _row(_conv_bands, _T, where=True),
    "conv_shingle_store": _row(_conv_shingle_store, _T, where=True),
    # day-2 conversation dedup: FROM = the new batch of turns, "state"
    # = the historical conv_hash dim (emit conv_hashes(out) back to
    # advance it)
    "incremental_conv_dedup": _row(dedup.incremental_conv_dedup, _T,
                                   frames={"state": "seen_hashes"}),
    "conv_near_dups": _row(dedup.conv_near_dups, _T, "threshold"),
    # "bands" / "store" name the historical conversations' LSH band
    # table and hashed-shingle store (conv_bands / conv_shingle_store)
    "incremental_conv_near_dups": _row(
        dedup.incremental_conv_near_dups, _T, "threshold",
        {"bands": "seen_bands", "store": "seen_store"}, where=True),
    "conv_prefix_dups": _row(dedup.conv_prefix_dups, _T, "min_shared"),
    "conv_branch_survivors": _row(dedup.conv_branch_survivors, _T, "min_shared"),
    "tool_latency_stats": _row(windows.tool_latency_stats, _T),
    "daily_health_rollup": _row(windows.daily_health_rollup, _T),
    "tool_latency_percentiles": _row(windows.tool_latency_percentiles, _T, "qs"),
    "daily_health_drift": _row(windows.daily_health_drift, _T, "jump_pct", where=True),
    "slowest_tool_calls": _row(windows.slowest_tool_calls, _T, "k", where=True),
    "tool_transition_counts": _row(windows.tool_transition_counts, _T, where=True),
    "tool_retry_runs": _row(windows.tool_retry_runs, _T, "min_run", where=True),
    "tool_error_attribution": _row(windows.tool_error_attribution, _T, where=True),
    "merge_slowest_tool_calls": _row(windows.merge_slowest_tool_calls, None, "k", _AB),
    "conv_ending_rollup": _row(windows.conv_ending_rollup, _T, where=True),
    "conv_ending_drift": _row(windows.conv_ending_drift, _T, "jump_pct", where=True),
    "conv_endings": _row(windows.conv_endings, _T, where=True),
    "time_to_first_tool": _row(windows.time_to_first_tool, _T, where=True),
    "tool_latency_histogram": _row(windows.tool_latency_histogram_state, _T,
                                   where=True),
    "merge_latency_histograms": _row(windows.merge_tool_latency_histograms, frames=_AB),
    "latency_percentiles_from_histogram": _row(
        windows.latency_percentiles_from_histogram, "tool_latency_histogram", "qs"),
    # percentile drift between two histogram states (a = then, b = now)
    "latency_drift": _row(windows.latency_drift_from_histograms, None, "qs",
                          {"a": "hist_a", "b": "hist_b"}),
    "daily_health_state": _row(windows.daily_health_state, _T, where=True),
    "merge_daily_health_state": _row(windows.merge_daily_health_state, frames=_AB),
    "daily_health_from_state": _row(windows.daily_health_from_state,
                                    "daily_health_state"),
    "conv_prefix_state": _row(dedup.conv_prefix_state, _T, where=True),
    "conv_frame_store": _row(dedup.conv_frame_store, _T, where=True),
    # day-2 branch dedup: "state" / "frames" name the historical
    # conv_prefix_state and conv_frame_store tables
    "incremental_conv_prefix_dups": _row(
        dedup.incremental_conv_prefix_dups, _T, "min_shared",
        {"state": "seen_state", "frames": "seen_frames"}, where=True),
    "curate_transcripts_attrition": _row(curate.curate_transcripts_attrition, _T,
                                         _QUALITY),
}


def accepted_keys(name: str) -> list[str]:
    """Every step key the ``name`` action accepts."""
    a = ACTIONS[name]
    keys = [*STEP_KEYS, *a.keys, *a.frames]
    if a.src:
        keys.append("from")
    if a.where:
        keys.append("where")
    return sorted(keys)


def _arguments(a: Action, step: dict, cfg: dict, env, spark) -> tuple[tuple, dict]:
    """Positional and keyword arguments of ``a.op`` for ``step``. ``env``
    maps frame names to frames; validation passes a stand-in that
    returns the names themselves."""
    s = {**a.defaults, **step}
    if "input" in a.keys and "input" in cfg:
        s.setdefault("input", cfg["input"])
    kw = {k: s[k] for k in a.keys if k in s}
    for key, param in a.frames.items():
        if key in step:
            kw[param] = env[step[key]]
        elif key in s:  # a frame named by a row default may be unbound
            kw[param] = env.get(s[key])
    if "spark" in inspect.signature(a.op).parameters:
        kw["spark"] = spark
    return ((env[step.get("from", a.src)],) if a.src else ()), kw


class _Names(dict):
    # validation stand-in for the frame env: every name resolves to itself
    def __missing__(self, name):
        return name


def _width(step: dict, cfg: dict) -> int:
    # the ``dim`` a step binds: its own, its row's, or its operator's default
    a = ACTIONS[step["action"]]
    kw = _arguments(a, step, cfg, _Names(), None)[1]
    return kw.get("dim", inspect.signature(a.op).parameters["dim"].default)


def validate_config(cfg: dict) -> None:
    """Check every step before any Spark work runs: a known action, only
    keys its row accepts, arguments that bind to the operator, and an
    ``array_maxpool`` as wide as the ``encode`` step it reads."""
    if "pipeline" not in cfg or not isinstance(cfg["pipeline"], list):
        raise ValueError("config needs a 'pipeline' list")
    bound: dict[str, tuple[int, dict]] = {}  # name -> (index, step) binding it
    for i, step in enumerate(cfg["pipeline"]):
        name = step.get("action")
        if name not in ACTIONS:
            raise ValueError(
                f"step {i}: unknown action {name!r}; known: {sorted(ACTIONS)}"
            )
        accepted = accepted_keys(name)
        unknown = sorted(set(step) - set(accepted))
        if unknown:
            raise ValueError(
                f"step {i} ({name}): unknown key(s) {unknown}; accepted: {accepted}"
            )
        a = ACTIONS[name]
        args, kw = _arguments(a, step, cfg, _Names(), None)
        try:
            inspect.signature(a.op).bind(*args, **kw)
        except TypeError as e:
            raise ValueError(f"step {i} ({name}): {e}") from None
        if name == "array_maxpool":  # it reads elements 1..dim of each vector
            j, src = bound.get(args[0], (None, {}))
            if src.get("action") == "encode" and _width(step, cfg) != _width(src, cfg):
                raise ValueError(f"step {i} ({name}): dim {_width(step, cfg)} differs "
                                 f"from the dim {_width(src, cfg)} of step {j} "
                                 "(encode) it reads")
        if not step.get("skip"):
            bound[step.get("out", name)] = i, step


def step_frame(spark: SparkSession, env: dict, step: dict, cfg: dict) -> DataFrame:
    """The DataFrame one validated step binds, read from the ``env`` frames."""
    a = ACTIONS[step["action"]]
    args, kw = _arguments(a, step, cfg, env, spark)
    if a.where and step.get("where"):
        args = (args[0].filter(F.expr(step["where"])),)
    return a.op(*args, **kw)


def _fingerprint(cfg: dict, steps: list[dict]) -> str:
    # the inputs' file state and every step up to and including this one
    inputs = [p for p in [cfg.get("input"), *(s.get("input") for s in steps)] if p]
    h = hashlib.md5(input_fingerprint(inputs).encode())
    h.update(json.dumps(steps, sort_keys=True).encode())
    return h.hexdigest()


class _Frames(dict):
    # the frame env: each name binds a thunk, called on every read
    def __getitem__(self, name):
        return super().__getitem__(name)()

    def get(self, name, default=None):
        return self[name] if name in self else default


def run_config(spark: SparkSession, cfg: dict | str) -> dict:
    """Run a pipeline config; returns {step out-name: committed row count,
    'bound' or 'skipped'} in execution order.

    Frames are built on their first read, once: a ``save`` step builds
    only when its manifest stage is not committed, so a rerun resumes
    without building anything upstream, and a trailing unsaved step
    that no later step reads is never built."""
    if isinstance(cfg, str):
        cfg = json.loads(open(cfg).read())
    validate_config(cfg)
    wh = Warehouse(spark, cfg["warehouse"]) if cfg.get("warehouse") else None
    man = Manifest(wh) if wh else None
    pipeline = cfg["pipeline"]
    env = _Frames()
    result: dict[str, object] = {}
    for i, step in enumerate(pipeline):
        name = step["action"]
        out = step.get("out", name)
        if step.get("skip"):
            result[out] = "skipped"
            continue
        # a step reads the names bound before it, whatever a later step rebinds
        build = functools.cache(
            lambda s=step, e=_Frames(env.items()): step_frame(spark, e, s, cfg))
        if not step.get("save"):
            env[out] = build
            result[out] = "bound"
            continue
        if wh is None:
            raise ValueError(f"step {name}: save=true but no warehouse in config")
        stage, fp = step.get("stage", name), _fingerprint(cfg, pipeline[: i + 1])
        keys = step.get("partition_by")
        man.run_stage(stage, out, fp, build, partition_by=keys, lineage_keys=keys)
        result[out] = man.record(stage, out, fp)["row_count"]
        env[out] = lambda o=out: wh.read(o)  # downstream reads the committed table
    return result
