"""Route stage: fan-out to (template_bucket, role) sinks.

The reference fans blocks out to per-split log files in a Python loop
(/root/reference/src/ml4logs/data/hdfs.py:43-50, 70-74, 99-104); here a
single pass computes the sink key and one partitioned write commits every
sink atomically — no per-sink scan. The write is a config ``route`` step
saved with ``partition_by=["template_bucket", "role"]``: a manifest
commit whose record keeps the row count of each sink. In plans/pipeline.py
that step's ``out`` is ``routed_turns`` and its ``stage`` is ``route``.

Skew: the partitioned write needs no exchange on the sink key — every
task writes the sinks its own rows fall into, so the biggest sink is
spread over all input tasks instead of pinned to one. Stages that need
per-conversation state (windows, per-conv aggs) use the conv_id
exchange; their per-row O(1) window state keeps a giant conversation
from OOMing a task, and AQE skew-join splitting covers the join side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TEMPLATE_BUCKETS = 8


def with_sink_key(parsed: DataFrame) -> DataFrame:
    """sink_key = (template_bucket, role); bucket = template_id % 8, an
    int: the type a table partitioned by it reads back."""
    bucket = F.pmod(F.col("template_id"), F.lit(TEMPLATE_BUCKETS)).cast("int")
    return parsed.withColumn("template_bucket", bucket).withColumn(
        "sink_key",
        F.concat_ws("/", F.col("template_bucket").cast("string"), F.col("role")),
    )


def sink_counts(parsed: DataFrame) -> DataFrame:
    """Per-sink aggregate counts — the correctness invariant the driver
    checks (north rule: 'matching the reference's per-sink aggregate
    counts')."""
    return with_sink_key(parsed).groupBy("template_bucket", "role").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("conv_id").alias("n_convs"),
    )
