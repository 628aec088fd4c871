"""Streaming tool-latency extraction + bounded histogram ledger.

Completes the telemetry trio for per-tool latency (SURVEY §2.9
extension — the reference is strictly batch): the batch path ranks
exact percentiles (operators/windows.tool_latency_percentiles), the
day-2 path merges power-of-2 histogram states
(tool_latency_histogram_state / merge_tool_latency_histograms), and
this module is the LIVE path — a custom stateful operator extracts
per-turn latencies as turns arrive (the lead() pairing Spark's
streaming engine can't express natively: a tool turn's latency needs
the NEXT turn of the same conversation, which may arrive in a later
micro-batch), and a ``foreachBatch`` ingest folds each micro-batch
into the same additive histogram state the day-2 path reads.

State is bounded end-to-end: the per-conversation group state is one
(idx, tool, ts) triple regardless of conversation length, and the
ledger is ~64 bucket rows per tool per batch, merged by sum — no raw
latency is ever retained. Exactly-once on the ledger follows the
embedding-ingest marker idiom (batch-scoped OVERWRITE partitions + a
commit marker, so a retried batch rewrites itself instead of
double-counting); re-delivery of the same rows under a NEW source
filename is the upstream source's contract here, as the histogram
state intentionally keeps no per-row identity to anti-join on.
"""

from __future__ import annotations

from collections.abc import Iterable
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ml4logs_spark.operators import twophase

LATENCY_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("tool", T.StringType()),
    T.StructField("lat_us", T.LongType()),
])

# last turn seen for the conversation: its idx, tool (null for
# non-tool turns) and timestamp in microseconds
LAT_STATE_SCHEMA = T.StructType([
    T.StructField("last_idx", T.IntegerType()),
    T.StructField("last_tool", T.StringType()),
    T.StructField("last_us", T.LongType()),
])


def _extract_latencies(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Per-conversation stateful pairing: each turn closes the latency
    of its predecessor (batch semantics: lead(ts) over (conv_id ORDER BY
    turn_idx)); the last turn of every micro-batch parks in state until
    its successor arrives."""
    chunks = list(pdfs)
    if not chunks:
        return
    pdf = (
        pd.concat(chunks, ignore_index=True)
        .sort_values("turn_idx", kind="mergesort")
        .reset_index(drop=True)
    )
    idx = pdf["turn_idx"].astype("int64").tolist()
    tool = [None if pd.isna(t) else str(t) for t in pdf["tool"]]
    us = (pdf["ts"].astype("int64") // 1000).tolist()  # ns -> us
    if state.exists:
        last_idx, last_tool, last_us = state.get
        idx = [last_idx] + idx
        tool = [last_tool] + tool
        us = [last_us] + us
    out_idx, out_tool, out_lat = [], [], []
    for i in range(len(idx) - 1):
        if tool[i] is not None:
            out_idx.append(idx[i])
            out_tool.append(tool[i])
            out_lat.append(us[i + 1] - us[i])
    state.update((int(idx[-1]), tool[-1], int(us[-1])))
    if out_idx:
        yield pd.DataFrame({
            "conv_id": key[0],
            "turn_idx": pd.array(out_idx, dtype="int32"),
            "tool": out_tool,
            "lat_us": pd.array(out_lat, dtype="int64"),
        })


def stream_tool_latencies(stream: DataFrame) -> DataFrame:
    """(conv_id, turn_idx, tool, lat_us) per tool turn, emitted as soon
    as the successor turn arrives — cross-micro-batch pairs reconstruct
    through the one-row-per-conversation group state."""
    return (
        stream.select("conv_id", "turn_idx", "tool", "ts")
        .groupBy("conv_id")
        .applyInPandasWithState(
            _extract_latencies,
            outputStructType=LATENCY_SCHEMA,
            stateStructType=LAT_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def make_latency_ingester(state_dir: str):
    """Per-batch fold of latency rows into the additive histogram
    ledger (public so tests can drive single batches, including the
    replayed-batch path). Layout under ``state_dir``: ``hist/`` (one
    ``batch=<id>`` partition, <=64 rows per tool), ``_batch_<id>``
    commit markers."""
    from ml4logs_spark.operators import windows

    root = Path(state_dir)
    root.mkdir(parents=True, exist_ok=True)

    def _ingest(bdf: DataFrame, batch_id: int) -> None:
        marker = root / f"_batch_{batch_id}"
        if marker.exists():  # replayed committed batch
            return
        hist = windows.histogram_from_latencies(
            bdf.filter(F.col("tool").isNotNull())
        )
        hist.write.mode("overwrite").parquet(
            str(root / "hist" / f"batch={batch_id}")
        )
        marker.mkdir()

    return _ingest


def read_latency_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Merged (tool, bucket_lo, n) across all committed batches — the
    same frame ``merge_tool_latency_histograms`` produces on the day-2
    path, so ``latency_percentiles_from_histogram`` publishes from it
    directly."""
    hist = Path(state_dir) / "hist"
    if not hist.exists() or not any(hist.glob("batch=*")):
        return spark.createDataFrame(
            [], "tool string, bucket_lo long, n long"
        )
    return twophase.sum_by(
        spark.read.parquet(str(hist)).drop("batch"), ["tool", "bucket_lo"]
    )


def run_latency_ingest(stream: DataFrame, state_dir: str, checkpoint_dir: str):
    """Start the live-latency query (availableNow trigger): stateful
    extraction -> per-batch histogram fold into the ledger."""
    return (
        stream_tool_latencies(stream)
        .writeStream.foreachBatch(make_latency_ingester(state_dir))
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
