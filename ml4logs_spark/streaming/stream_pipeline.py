"""Streaming transcript source shared by the streaming operators.

The reference is strictly batch (SURVEY.md §2.9 — no watermarks, windows,
or state anywhere in its tree), so streaming is a capability extension,
not a parity requirement. This module is the file-source side of it: the
explicit transcript schema, ``stream_transcripts`` (new parquet files =
new micro-batch) and ``stamp_file_order`` (a deterministic delivery
order for multi-batch drains). The same parse/enrich expressions then
run over the stream in ``route_sink`` (per-sink fan-out with
exactly-once checkpoints) and ``latency`` (cross-batch turn pairing).
"""

from __future__ import annotations

import os
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("role", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("tool", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])


def stamp_file_order(in_dir: str) -> None:
    """Give a freshly-written parquet directory a deterministic
    file-source delivery order: part files get strictly increasing
    mtimes in filename order (range partition i writes part-0000i, so
    filename order IS turn-range order after ``repartitionByRange``).

    FileStreamSource batches files by modification time, with ties
    falling back to listing order — parallel write tasks finish in
    arbitrary sub-second order, so without stamping, a multi-batch
    drain can deliver later turn ranges BEFORE earlier ones and any
    per-key ordered-arrival operator (sessionizer, latency pairing)
    reconstructs the wrong sequence. Tiny test inputs dodge this only
    because their writes tie within one mtime millisecond. Production
    sources (Kafka partitioned by conv_id, Iceberg CDC) are per-key
    ordered queues, so this is purely the file-source harness's
    delivery contract, not an operator requirement."""
    files = sorted(p for p in Path(in_dir).glob("part-*") if p.is_file())
    base = int(time.time()) - len(files) - 2
    for i, p in enumerate(files):
        os.utime(p, (base + i, base + i))


def stream_transcripts(spark: SparkSession, in_dir: str) -> DataFrame:
    """File-source stream of transcript turns (new parquet files = new
    micro-batch; at scale this is the Kafka/Iceberg-CDC source)."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(in_dir)
    )
