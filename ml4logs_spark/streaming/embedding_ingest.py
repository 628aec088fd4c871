"""Streaming embedding ingest with persistent near-dup state.

The day-2 batch path (similarity.incremental_embedding_near_dups)
re-expressed as a Structured Streaming ``foreachBatch`` loop: every
micro-batch of vectors probes the accumulated state (LSH band table +
int8 codes under a FROZEN quantizer) for near-duplicates against ALL
previously-ingested history, emits the verified pairs, and extends the
state with its own signatures/codes — history is never rescanned, and
the state is the compact representation (4 + dim bytes per vector).

Exactly-once: foreachBatch is at-least-once on retry, so each batch
writes into batch-scoped partition directories (``batch=<id>``) with
OVERWRITE semantics — a retry after a partial failure rewrites its own
partitions instead of appending duplicates — and then commits through
a marker directory keyed by ``batch_id``; a replayed committed batch
sees its marker and skips entirely (the same manifest-marker idiom as
the batch pipeline's resume; at cluster scale the markers live in the
manifest table / an Iceberg snapshot instead of the local filesystem).

The quantizer is fit on the FIRST batch and frozen thereafter
(re-fitting would silently re-interpret every historical code) — the
standard fit-once contract of quantized ANN state.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ml4logs_spark import cache

EMBEDDING_SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
    T.StructField("label", T.IntegerType()),
])


def stream_embeddings(spark: SparkSession, in_dir: str) -> DataFrame:
    """File-source stream of embedding rows (new parquet file = new
    micro-batch; at scale the Kafka/Iceberg-CDC source)."""
    return (
        spark.readStream.schema(EMBEDDING_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )


def make_batch_ingester(
    state_dir: str,
    threshold: float = 0.4,
    n_planes: int = 16,
    n_bands: int = 4,
    dim: int = 64,
):
    """Build the per-batch ingest function (public so tests can drive
    a single batch — including the partial-failure retry path — without
    a streaming query around it). State layout under ``state_dir``:
    ``quant/`` (frozen params, committed by atomic directory rename),
    ``bands/`` and ``codes/`` (one ``batch=<id>`` partition per batch),
    ``pairs/`` (verified near-dup pairs), ``_batch_<id>`` commit
    markers."""
    from ml4logs_spark.operators import similarity

    root = Path(state_dir)
    root.mkdir(parents=True, exist_ok=True)

    def _ingest(bdf: DataFrame, batch_id: int) -> None:
        # the operators track diamond persists (the history probe, the
        # band frame); they are released with the batch, not the session
        with cache.scope():
            marker = root / f"_batch_{batch_id}"
            if marker.exists():  # replayed batch: already committed
                return
            spark = bdf.sparkSession
            batch = bdf.select("vec_id", "embedding").dropDuplicates(["vec_id"])
            bands_path, codes_path = root / "bands", root / "codes"

            def _state(path: Path) -> DataFrame:
                # exclude this batch's own partition: a retried PARTIAL
                # batch may have written it before crashing, and the
                # probe must never see the batch's own vectors as
                # history (partition pruning makes the filter free)
                df = spark.read.parquet(str(path))
                return df.filter(F.col("batch") != batch_id).drop("batch")

            has_history = bands_path.exists() and any(
                p.name != f"batch={batch_id}"
                for p in bands_path.glob("batch=*")
            )
            if has_history:
                # a producer may re-deliver a logical batch under a NEW
                # filename (new batch_id, so the marker cannot catch it);
                # already-ingested vec_ids must not re-enter the state or
                # re-emit their pairs
                batch = batch.join(
                    _state(codes_path).select("vec_id"), "vec_id", "left_anti"
                )
            batch = batch.persist()
            try:
                if batch.isEmpty():
                    marker.mkdir()
                    return
                quant_path = root / "quant"
                if not quant_path.exists():
                    # first batch fits the quantizer, frozen thereafter.
                    # Committed by ATOMIC directory rename: a crash mid-write
                    # leaves only the tmp dir, so a retry re-fits instead of
                    # reading a partial parquet as the committed params.
                    tmp = root / f"_quant_tmp_{batch_id}"
                    similarity.fit_quantizer(batch).write.mode(
                        "overwrite"
                    ).parquet(str(tmp))
                    try:
                        tmp.rename(quant_path)
                    except OSError:
                        pass  # concurrent retry already committed it
                quant = spark.read.parquet(str(quant_path))
                # band signatures computed ONCE per batch and threaded into
                # the probe, the within-batch search, and the state write
                # (each would otherwise recompute the n_planes dot products)
                nb = similarity.band_signatures(
                    batch, n_planes=n_planes, n_bands=n_bands, dim=dim
                ).persist()
                try:
                    if has_history:
                        pairs = similarity.incremental_embedding_near_dups(
                            batch,
                            band_state=_state(bands_path),
                            code_state=_state(codes_path),
                            quant=quant,
                            threshold=threshold,
                            n_planes=n_planes,
                            n_bands=n_bands,
                            dim=dim,
                            new_bands=nb,
                        )
                    else:
                        # first batch: only within-batch pairs exist
                        pairs = similarity.embedding_near_dups(
                            batch, threshold, n_planes, n_bands, dim, bands=nb
                        )
                    # batch-scoped partitions + overwrite: a retry after a
                    # partial failure rewrites its own output rather than
                    # appending a second copy (the marker only commits a
                    # batch whose every write completed)
                    part = f"batch={batch_id}"
                    pairs.write.mode("overwrite").parquet(
                        str(root / "pairs" / part)
                    )
                    nb.write.mode("overwrite").parquet(str(bands_path / part))
                    similarity.quantize_embeddings(batch, quant).write.mode(
                        "overwrite"
                    ).parquet(str(codes_path / part))
                    marker.mkdir()
                finally:
                    nb.unpersist()
            finally:
                batch.unpersist()

    return _ingest


def run_embedding_ingest(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.4,
    n_planes: int = 16,
    n_bands: int = 4,
    dim: int = 64,
):
    """Start the ingest query (availableNow trigger — drains whatever
    is in the source, the batch-job-over-a-stream shape)."""
    ingest = make_batch_ingester(
        state_dir, threshold=threshold, n_planes=n_planes,
        n_bands=n_bands, dim=dim,
    )
    return (
        stream.writeStream.foreachBatch(ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
