"""End-to-end pipeline composition: parse -> enrich -> route -> aggregate,
run as one config through ``config_runner.run_config``.

The Spark restatement of the reference's config-driven step loop
(/root/reference/src/ml4logs/__main__.py:46-51 + configs/HDFS1_100k/
drain_preprocess.json): ``PIPELINE`` is the parse, route and aggregate
steps of ``configs/transcripts_preprocess.json``, with its own sink names
and the aggregates read from the committed ``routed_turns`` table. It is
Python, not a config file, because ``spark-submit --py-files`` ships only
the package. Each ``save`` step is a manifest commit (sources/manifest.py)
under its ``stage`` label (``parse``, ``route``, ``aggregate``); its
fingerprint covers the input files and every step up to it, so a rerun
resumes from the last committed stage instead of re-reading config
``skip`` flags, and builds nothing for the stages it resumes.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ml4logs_spark.plans.config_runner import run_config
from ml4logs_spark.sources.manifest import Manifest
from ml4logs_spark.sources.tables import Warehouse

PIPELINE = [
    {"action": "transcripts"},
    {"action": "template_dim", "save": True, "stage": "parse"},
    {"action": "parse"},
    {"action": "enrich"},
    {"action": "route", "out": "routed_turns", "save": True, "stage": "route",
     "partition_by": ["template_bucket", "role"]},
    {"action": "sink_counts", "from": "routed_turns", "save": True,
     "stage": "aggregate"},
    {"action": "counts", "from": "routed_turns"},
    {"action": "tfidf", "out": "conv_tool_tfidf", "save": True, "stage": "aggregate"},
    {"action": "timedeltas", "out": "timedelta_features", "save": True,
     "stage": "aggregate"},
]

STAGES = [s.get("out", s["action"]) for s in PIPELINE if s.get("save")]


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    warehouse_dir: str,
    fail_after: str | None = None,
) -> dict[str, bool]:
    """Run all stages; returns {stage: ran?} (False = resume skip).

    fail_after simulates a crash for the kill/rerun resume test
    (FIXTURES.md §6.7): runs ``PIPELINE`` up to the named stage, then
    raises RuntimeError.
    """
    steps = PIPELINE
    if fail_after is not None:
        outs = [s.get("out", s["action"]) for s in PIPELINE]
        steps = PIPELINE[: outs.index(fail_after) + 1]
    man = Manifest(Warehouse(spark, warehouse_dir))
    n = len(man.load())
    run_config(spark, {"input": sf_dir, "warehouse": warehouse_dir, "pipeline": steps})
    if fail_after is not None:
        raise RuntimeError(f"simulated crash after {fail_after}")
    ran = {r["sink"] for r in man.load()[n:]}
    return {s: s in ran for s in STAGES}
